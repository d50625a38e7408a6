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

Everything is built-in Catalyst expressions: predicates push into the
scan, and because validation is a DataFrame→DataFrame function the
optimizer can see through it into the KPI stage when the intermediate
materialization is skipped.

The README documents two extra rules the reference never implemented
(``README.md:33-34`` — products.price > 0, quantity > 0); they are
available behind ``strict=True`` so golden-parity runs default to the
shipped code behavior (SURVEY.md §2.2 divergence note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ORDERS_REQUIRED = ("order_id", "user_id", "created_at")
ORDER_ITEMS_REQUIRED = ("id", "product_id", "sale_price")


def validate_orders(orders: DataFrame) -> DataFrame:
    """P1 + P4: mandatory-column null-drop, then date projections.

    ``return_date`` is derived only when the source carries
    ``returned_at`` (the TPC-H-mapped corpus has no order-level return
    timestamp; FIXTURES.md §B)."""
    out = orders.na.drop(subset=list(ORDERS_REQUIRED)).withColumn(
        "order_date", F.to_date("created_at")
    )
    if "returned_at" in orders.columns:
        out = out.withColumn("return_date", F.to_date("returned_at"))
    return out


def validate_order_item_rows(
    order_items: DataFrame, strict: bool = False
) -> DataFrame:
    """P2 + P3: the row-local item rules, null-drop and positive price
    (J1 needs the orders; the event pipeline applies it when an item's
    order lands)."""
    items = order_items.na.drop(subset=list(ORDER_ITEMS_REQUIRED)).filter(
        F.col("sale_price") > 0
    )
    if strict and "quantity" in items.columns:
        items = items.filter(F.col("quantity") > 0)
    return items


def validate_order_items(
    order_items: DataFrame,
    valid_orders: DataFrame,
    strict: bool = False,
) -> DataFrame:
    """P2 + P3 + J1: null-drop, positive price, order-existence semi-join."""
    return validate_order_item_rows(order_items, strict=strict).join(
        valid_orders.select("order_id"), "order_id", "left_semi"
    )


def validate_products(products: DataFrame, strict: bool = False) -> DataFrame:
    """Products pass through unvalidated in the reference
    (``task_1.py:120,141``); ``strict`` applies the README-documented
    positive-price rule."""
    if strict:
        return products.filter(F.col("retail_price") > 0)
    return products


#: Reject rules in priority order — a record is quarantined under its
#: FIRST failing rule, so reasons are deterministic and counts partition
#: the reject set (reference README.md:35 "Invalid records are logged
#: and skipped" — unimplemented in the reference's task_1.py:106-141,
#: which drops silently; SURVEY.md §2.2 flags the gap).
ORDERS_REJECT_RULES: tuple[tuple[str, str], ...] = (
    ("null_order_id", "order_id"),
    ("null_user_id", "user_id"),
    ("null_created_at", "created_at"),
)
ITEMS_NULL_REJECT_RULES: tuple[tuple[str, str], ...] = (
    ("null_id", "id"),
    ("null_product_id", "product_id"),
    ("null_sale_price", "sale_price"),
)


def _null_reason(rules: tuple[tuple[str, str], ...]) -> Column:
    reason = F.lit(None).cast("string")
    for rule, col in reversed(rules):
        reason = F.when(F.col(col).isNull(), F.lit(rule)).otherwise(reason)
    return reason


def validate_orders_with_rejects(
    orders: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """P1 + P4 with quarantine: returns (valid, rejects) where
    ``valid`` equals :func:`validate_orders` exactly (tested) and
    ``rejects`` carries the source row plus a ``reject_reason``.

    One annotation projection, two filters — Catalyst shares the scan
    when both sides are consumed in one action, and each side alone
    collapses to a single filtered scan. No extra shuffle."""
    annotated = orders.withColumn(
        "reject_reason", _null_reason(ORDERS_REJECT_RULES)
    )
    valid = annotated.filter(F.col("reject_reason").isNull()).drop(
        "reject_reason"
    )
    valid = valid.withColumn("order_date", F.to_date("created_at"))
    if "returned_at" in orders.columns:
        valid = valid.withColumn("return_date", F.to_date("returned_at"))
    rejects = annotated.filter(F.col("reject_reason").isNotNull())
    return valid, rejects


def validate_order_items_with_rejects(
    order_items: DataFrame,
    valid_orders: DataFrame,
    strict: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """P2 + P3 + J1 with quarantine. Reject reasons, in priority order:
    the null rules, ``nonpositive_sale_price``, then ``unknown_order``
    (the J1 anti-join — the rows the reference's ``isin`` filter drops
    with no trace). ``valid`` equals :func:`validate_order_items`."""
    reason = _null_reason(ITEMS_NULL_REJECT_RULES)
    reason = F.when(reason.isNotNull(), reason).otherwise(
        F.when(F.col("sale_price") <= 0, F.lit("nonpositive_sale_price"))
    )
    if strict and "quantity" in order_items.columns:
        reason = F.when(reason.isNotNull(), reason).otherwise(
            F.when(F.col("quantity") <= 0, F.lit("nonpositive_quantity"))
        )
    annotated = order_items.withColumn("reject_reason", reason)
    passed = annotated.filter(F.col("reject_reason").isNull()).drop(
        "reject_reason"
    )
    order_keys = valid_orders.select("order_id")
    valid = passed.join(order_keys, "order_id", "left_semi")
    orphans = passed.join(order_keys, "order_id", "left_anti").withColumn(
        "reject_reason", F.lit("unknown_order")
    )
    rejects = annotated.filter(F.col("reject_reason").isNotNull()).unionByName(
        orphans
    )
    return valid, rejects


def validation_reject_summary(
    orders: DataFrame, order_items: DataFrame
) -> DataFrame:
    """Reject counts per (table, rule) — every declared rule appears,
    zero or not, so the output shape is data-independent (a clean
    corpus yields all-zero counts, not an empty frame the correctness
    gate would compare vacuously). The per-rule counts are one
    aggregation over each annotated scan plus the orphan anti-join."""
    v_orders, o_rej = validate_orders_with_rejects(orders)
    _, i_rej = validate_order_items_with_rejects(order_items, v_orders)
    spark = orders.sparkSession
    rules = spark.createDataFrame(
        [("orders", r) for r, _ in ORDERS_REJECT_RULES]
        + [("order_items", r) for r, _ in ITEMS_NULL_REJECT_RULES]
        + [("order_items", "nonpositive_sale_price"),
           ("order_items", "unknown_order")],
        "table_name string, rule string",
    )
    counts = (
        o_rej.select(F.lit("orders").alias("table_name"),
                     F.col("reject_reason").alias("rule"))
        .unionByName(
            i_rej.select(F.lit("order_items").alias("table_name"),
                         F.col("reject_reason").alias("rule"))
        )
        .groupBy("table_name", "rule")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return rules.join(counts, ["table_name", "rule"], "left").select(
        "table_name",
        "rule",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_rejected"),
    )


def run_validation(
    products: DataFrame,
    orders: DataFrame,
    order_items: DataFrame,
    strict: bool = False,
) -> dict[str, DataFrame]:
    """Full Task-1 stage: returns the validated star schema, lazily."""
    v_orders = validate_orders(orders)
    return {
        "products": validate_products(products, strict=strict),
        "orders": v_orders,
        "order_items": validate_order_items(order_items, v_orders, strict=strict),
    }
