"""Unit tests for the KPI stage, targeting the reference's semantic
traps (SURVEY.md §5c): item-weighted return rates, null-group drop,
round-then-scale, semi-join vs inner-join cardinality."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    kpi,
    validate,
)

D = dt.date(2025, 3, 8)
TS = dt.datetime(2025, 3, 8, 10, 0, 0)


def make_star(spark):
    products = spark.createDataFrame(
        [(1, "Electronics"), (2, "Books")], "id long, category string"
    )
    orders = spark.createDataFrame(
        [
            # order 10: returned; order 11: not; order 12: not
            (10, 100, TS, TS),
            (11, 101, TS, None),
            (12, 102, TS, None),
        ],
        "order_id long, user_id long, created_at timestamp, returned_at timestamp",
    ).withColumn("order_date", F.to_date("created_at"))
    items = spark.createDataFrame(
        [
            # two items of returned order 10 → both count as returned items
            (1000, 10, 100, 1, 10.0),
            (1001, 10, 100, 1, 20.0),
            (1002, 11, 101, 1, 30.0),
            (1003, 12, 102, 2, 40.0),
            (1004, 12, 102, 99, 50.0),  # dangling product → null category
        ],
        "id long, order_id long, user_id long, product_id long, sale_price double",
    )
    return products, orders, items


def test_category_kpi_item_weighted_and_null_group(spark):
    products, orders, items = make_star(spark)
    fact = kpi.build_item_fact(items, kpi.with_return_flag(orders), products)
    out = {
        (r["category"], r["order_date"]): r
        for r in kpi.category_kpi(fact).collect()
    }
    # A9: the dangling-product item (null category) must be dropped
    assert all(k[0] is not None for k in out)
    elec = out[("Electronics", D)]
    # Electronics: items 1000,1001,1002 → revenue 60, orders {10,11},
    # returned items 2 → avg_return_rate = 2/2 * 100 = 100 (can exceed 100
    # in general: item-weighted numerator over distinct orders — A8)
    assert elec["daily_revenue"] == 60.0
    assert elec["avg_order_value"] == 30.0
    assert elec["avg_return_rate"] == 100.0
    books = out[("Books", D)]
    assert books["daily_revenue"] == 40.0
    assert books["avg_return_rate"] == 0.0


def test_order_kpi_counts(spark):
    products, orders, items = make_star(spark)
    fact = kpi.build_item_fact(items, kpi.with_return_flag(orders), products)
    [row] = kpi.order_kpi(fact).collect()
    assert row["total_orders"] == 3
    assert row["total_items_sold"] == 5
    assert row["total_revenue"] == 150.0
    # A6: item-weighted mean — 2 returned items of 5 → 40%
    assert row["return_rate"] == 40.0
    assert row["unique_customers"] == 3


def test_return_rate_can_exceed_100(spark):
    """The reference's avg_return_rate = returned items / distinct orders
    — deliberately >100% when a returned order has many items."""
    products = spark.createDataFrame([(1, "X")], "id long, category string")
    orders = spark.createDataFrame(
        [(1, 1, TS, TS)],
        "order_id long, user_id long, created_at timestamp, returned_at timestamp",
    ).withColumn("order_date", F.to_date("created_at"))
    items = spark.createDataFrame(
        [(i, 1, 1, 1, 1.0) for i in range(3)],
        "id long, order_id long, user_id long, product_id long, sale_price double",
    )
    fact = kpi.build_item_fact(items, kpi.with_return_flag(orders), products)
    [row] = kpi.category_kpi(fact).collect()
    assert row["avg_return_rate"] == 300.0


def test_validation_drops_and_semi_join(spark):
    orders = spark.createDataFrame(
        [
            (1, 1, TS),
            (None, 1, TS),  # null order_id → dropped (P1)
            (3, None, TS),  # null user_id → dropped
            (4, 4, None),  # null created_at → dropped
        ],
        "order_id long, user_id long, created_at timestamp",
    )
    v_orders = validate.validate_orders(orders)
    assert v_orders.count() == 1
    assert v_orders.first()["order_date"] == D

    items = spark.createDataFrame(
        [
            (1, 1, 1, 5.0),  # ok
            (None, 1, 1, 5.0),  # null id → dropped (P2)
            (3, 1, None, 5.0),  # null product_id → dropped
            (4, 1, 1, None),  # null sale_price → dropped
            (5, 1, 1, 0.0),  # non-positive price → dropped (P3)
            (6, 99, 1, 5.0),  # dangling order → dropped (J1 semi-join)
        ],
        "id long, order_id long, product_id long, sale_price double",
    )
    v_items = validate.validate_order_items(items, v_orders)
    assert [r["id"] for r in v_items.collect()] == [1]


def test_validation_rejects_reasons(spark):
    """Quarantine semantics on dirty rows: every reject counts under its
    first-failing rule, and valid rows plus rejects are the input."""
    orders = spark.createDataFrame(
        [
            (1, 1, TS),
            (None, None, TS),  # both null → null_order_id wins (priority)
            (3, None, TS),
            (4, 4, None),
        ],
        "order_id long, user_id long, created_at timestamp",
    )
    items = spark.createDataFrame(
        [
            (1, 1, 1, 5.0),
            (None, 1, None, 5.0),  # id and product null → null_id wins
            (3, 1, None, 5.0),
            (4, 1, 1, None),
            (5, 1, 1, 0.0),
            (6, 99, 1, 5.0),  # dangling order → unknown_order (anti-join)
            (7, 1, 1, float("nan")),  # NaN is a missing price
        ],
        "id long, order_id long, product_id long, sale_price double",
    )
    summary = {
        (r["table_name"], r["rule"]): r["n_rejected"]
        for r in validate.validation_reject_summary(orders, items).collect()
    }
    assert summary == {
        ("orders", "null_order_id"): 1,
        ("orders", "null_user_id"): 1,
        ("orders", "null_created_at"): 1,
        ("order_items", "null_id"): 1,
        ("order_items", "null_product_id"): 1,
        ("order_items", "null_sale_price"): 2,
        ("order_items", "nonpositive_sale_price"): 1,
        ("order_items", "unknown_order"): 1,
    }

    v_orders = validate.validate_orders(orders)
    v_items = validate.validate_order_items(items, v_orders)
    assert [r["id"] for r in v_items.collect()] == [1]
    for table, df, valid in (("orders", orders, v_orders),
                             ("order_items", items, v_items)):
        rejected = sum(n for (t, _), n in summary.items() if t == table)
        assert valid.count() + rejected == df.count(), table


def test_validation_oracles_count_nan_price():
    """The DuckDB oracles of validate_order_items and validation_rejects
    apply the same rules as ``validate.RULES``: a NaN price is a missing
    price, dropped from the valid items and counted under
    null_sale_price. The rows mirror test_validation_rejects_reasons in
    TPC-H columns (id = l_orderkey * 10 + l_linenumber)."""
    import duckdb

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        ORACLES,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
        "o_orderdate DATE)"
    )
    con.execute(
        "INSERT INTO orders VALUES (1, 1, DATE '2025-03-08'), "
        "(NULL, NULL, DATE '2025-03-08'), (3, NULL, DATE '2025-03-08'), "
        "(4, 4, NULL)"
    )
    con.execute(
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_linenumber BIGINT, "
        "l_partkey BIGINT, l_extendedprice DOUBLE, l_returnflag VARCHAR)"
    )
    con.execute(
        "INSERT INTO lineitem VALUES (1, 1, 1, 5.0, 'N'), "
        "(1, NULL, NULL, 5.0, 'N'), (1, 3, NULL, 5.0, 'N'), "
        "(1, 4, 1, NULL, 'N'), (1, 5, 1, 0.0, 'N'), (99, 6, 1, 5.0, 'N'), "
        "(1, 7, 1, 'NaN'::DOUBLE, 'N')"
    )
    valid = con.execute(ORACLES["validate_order_items"]).fetchall()
    assert [r[0] for r in valid] == [11]
    summary = {
        (t, rule): n
        for t, rule, n in con.execute(ORACLES["validation_rejects"]).fetchall()
    }
    assert summary == {
        ("orders", "null_order_id"): 1,
        ("orders", "null_user_id"): 1,
        ("orders", "null_created_at"): 1,
        ("order_items", "null_id"): 1,
        ("order_items", "null_product_id"): 1,
        ("order_items", "null_sale_price"): 2,
        ("order_items", "nonpositive_sale_price"): 1,
        ("order_items", "unknown_order"): 1,
    }


def test_rank_daily_tie_break(spark):
    products, orders, items = make_star(spark)
    fact = kpi.build_item_fact(items, kpi.with_return_flag(orders), products)
    ranked = kpi.category_rank_daily(kpi.category_kpi(fact)).collect()
    by_rank = {r["revenue_rank"]: r["category"] for r in ranked}
    assert by_rank == {1: "Electronics", 2: "Books"}
