"""Source-format coverage (JSONL) and bucketed co-located joins —
the shuffle-free fact⋈fact story at 100 TB."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
    read_jsonl_table,
)


def test_jsonl_reader_explicit_schema(spark, tmp_path):
    p = str(tmp_path / "rows.jsonl")
    with open(p, "w") as f:
        f.write('{"order_id": 1, "amount": 10.5}\n')
        f.write('{"order_id": 2, "amount": null}\n')
        f.write('{"order_id": "oops", "amount": 3.0}\n')  # corrupt id
    df = read_jsonl_table(
        spark, p, "order_id long, amount double"
    )
    rows = {r["order_id"]: r["amount"] for r in df.collect()}
    # permissive mode: corrupt line → null id, schema stays declared
    assert rows[1] == 10.5 and rows[2] is None and None in rows
    assert dict(df.dtypes) == {"order_id": "bigint", "amount": "double"}


def test_bucketed_fact_join_has_no_shuffle(spark, tmp_path):
    """Both facts bucketed by the join key → the join plan contains no
    Exchange on either side: this is how the orders⋈lineitem shuffle
    disappears at 100 TB (bucket-pruned, co-located scan-join)."""
    orders = spark.range(1000).select(
        F.col("id").alias("order_id"), (F.col("id") % 7).alias("status")
    )
    items = spark.range(5000).select(
        (F.col("id") % 1000).alias("order_id"), F.col("id").alias("item_id")
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
    (orders.write.bucketBy(8, "order_id").sortBy("order_id")
        .option("path", str(tmp_path / "b_orders"))
        .mode("overwrite").saveAsTable("b_orders"))
    (items.write.bucketBy(8, "order_id").sortBy("order_id")
        .option("path", str(tmp_path / "b_items"))
        .mode("overwrite").saveAsTable("b_items"))
    # hint("merge") pins SortMergeJoin (the fact⋈fact strategy — at
    # real scale neither side broadcasts); bucket co-location must
    # eliminate every Exchange from the plan.
    joined = spark.table("b_items").hint("merge").join(
        spark.table("b_orders"), "order_id"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 5000


def test_validated_zone_partition_pruning(spark, tmp_path):
    """Date-partitioned validated zone: a date-filtered read must prune
    to that partition (PartitionFilters in the scan, one directory)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zone_table,
        zone_table_layout,
    )

    df = spark.createDataFrame(
        [(1, "2025-03-08", 10.0), (2, "2025-03-09", 20.0), (3, "2025-03-09", 5.0)],
        "order_id long, order_date string, sale_price double",
    )
    write_zone_table(df, str(tmp_path), "order_items", partition_by="order_date")
    assert zone_table_layout(str(tmp_path), "order_items")["partition_by"] == [
        "order_date"
    ]
    back = spark.read.parquet(str(tmp_path / "order_items")).filter(
        F.col("order_date") == "2025-03-09"
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "order_date" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert back.count() == 2


def test_pipeline_batch_bucketed_validated_zone(spark, tmp_path):
    """pipeline_batch.run(validated_layout="bucketed") — ROADMAP r4 #2 batch
    half: the validated zone lands as bucketed catalog tables, KPIs are
    produced, and a fact⋈fact join read back from the zone runs with no
    shuffle Exchange. Since ROADMAP r6 #3 the default is the UNIFIED
    layout: both facts additionally partitionBy(order_year) UNDER the
    buckets — a year filter prunes directories statically while the
    join stays Exchange-free."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )

    raw = tmp_path / "raw"
    (raw / "orders").mkdir(parents=True)
    (raw / "order_items").mkdir(parents=True)
    (raw / "products.csv").write_text(
        "id,sku,cost,category,name,brand,retail_price,department\n"
        "1,A-1,5.0,Electronics,Widget,Acme,10.0,Gadgets\n"
        "2,B-2,2.0,Books,Novel,Pub,8.0,Media\n"
    )
    (raw / "orders" / "part1.csv").write_text(
        "order_id,user_id,status,created_at,returned_at,shipped_at,"
        "delivered_at,num_of_item\n"
        "1,100,delivered,2025-03-08T10:00:00,,2025-03-08T12:00:00,"
        "2025-03-09T10:00:00,2\n"
        "2,101,returned,2025-03-08T11:00:00,2025-03-10T09:00:00,"
        "2025-03-08T13:00:00,2025-03-09T11:00:00,1\n"
    )
    (raw / "order_items" / "part1.csv").write_text(
        "id,order_id,user_id,product_id,status,created_at,shipped_at,"
        "delivered_at,returned_at,sale_price\n"
        "10,1,100,1,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,"
        "2025-03-09T10:00:00,,10.0\n"
        "11,1,100,2,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,"
        "2025-03-09T10:00:00,,8.0\n"
        "12,2,101,1,returned,2025-03-08T11:00:00,2025-03-08T13:00:00,"
        "2025-03-09T11:00:00,2025-03-10T09:00:00,10.0\n"
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        zone_table_layout,
    )

    paths = pipeline_batch.run(
        spark, str(raw), str(tmp_path / "out"), validated_layout="bucketed"
    )
    specs = {
        n: zone_table_layout(paths["validated"], n)
        for n in ("orders", "order_items")
    }
    tables = [spec["table"] for spec in specs.values()]
    assert all(spec["layout"] == "bucketed" for spec in specs.values())
    assert specs["orders"]["table"] == "validated_orders"
    assert spark.read.parquet(paths["category_kpi"]).count() > 0
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        items = spark.table("validated_order_items")
        orders = spark.table("validated_orders")
        plan = (
            items.hint("merge").join(orders.select("order_id"), "order_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # unified layout: order_year partition dirs exist on BOTH facts
        # and a year filter reaches PartitionFilters (static pruning)
        for t in ("validated_orders", "validated_order_items"):
            df = spark.table(t)
            assert "order_year" in df.columns, t
            pruned = df.filter(F.col("order_year") == "2025")
            pplan = pruned._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in pplan and "order_year" in pplan.split(
                "PartitionFilters"
            )[1][:200], pplan
        import os as _os
        vdir = str(tmp_path / "out" / "validated" / "orders")
        assert any(
            d.startswith("order_year=") for d in _os.listdir(vdir)
        ), _os.listdir(vdir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_validated_zone_kpi_join_no_shuffle(spark, tmp_path):
    """ROADMAP #3 / VERDICT r1 next #6: write the validated zone with
    write_zone_table(layout="bucketed"), rebuild the item fact from the
    catalog tables, and the J2 items⋈orders join must contain no
    shuffle Exchange — the join-key clustering was paid at write time.
    Broadcast is disabled so the test can't pass via BHJ."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        read_zone_tables,
        write_zone_table,
        zone_table_layout,
    )

    orders = spark.range(200).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 31).alias("user_id"),
        F.to_date(F.lit("2025-03-08")).alias("order_date"),
        F.when(F.col("id") % 5 == 0, F.lit(True)).otherwise(F.lit(False)).alias(
            "is_returned"
        ),
    )
    items = spark.range(1000).select(
        F.col("id").alias("id"),
        (F.col("id") % 200).alias("order_id"),
        (F.col("id") % 17).alias("product_id"),
        (F.col("id") % 9 + 0.5).alias("sale_price"),
    )
    products = spark.range(17).select(
        F.col("id"), F.concat(F.lit("cat"), F.col("id") % 3).alias("category")
    )
    zone = str(tmp_path / "zone")
    for name, df in (("orders", orders), ("order_items", items)):
        write_zone_table(
            df, zone, name, layout="bucketed", table=f"validated_{name}",
            n_buckets=8,
        )
    names = {n: zone_table_layout(zone, n)["table"] for n in ("orders", "order_items")}
    back = read_zone_tables(spark, zone, list(names))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = kpi.build_item_fact(back["order_items"], back["orders"], products)
        plan = fact._jdf.queryExecution().executedPlan().toString()
        # J2 must be a bucket-co-located SortMergeJoin: no shuffle
        # Exchange anywhere (dim join is an explicit BroadcastExchange,
        # which is allowed — it moves 17 rows, not the facts)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert fact.count() == 1000
        got = {
            (r["category"], r["daily_revenue"])
            for r in kpi.category_kpi(fact).collect()
        }
        assert len(got) == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_waiting_suppliers_bucketed_single_shuffle(spark, tmp_path):
    """Q21 shape over orderkey-co-bucketed facts: the lineitem⋈orders
    join AND both orderkey-grain aggregates reuse the bucket
    partitioning, so the whole plan carries exactly ONE shuffle — the
    final tiny suppkey count. This is the scale path bench_scale.py
    measures as waiting_suppliers_bucketed."""
    import datetime as dt

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        olap_deep,
    )

    d0 = dt.date(2025, 1, 1)
    late = dt.date(2025, 6, 1)  # > 60 days after d0
    # order 1: suppliers 7 (late) + 8 (on time) → culprit 7
    # order 2: suppliers 7 and 8 both late → no single culprit
    # order 3: single-supplier order → excluded (needs n_supp > 1)
    lineitem = spark.createDataFrame(
        [
            (1, 7, late), (1, 8, d0),
            (2, 7, late), (2, 8, late),
            (3, 7, late),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate date",
    )
    orders = spark.createDataFrame(
        [(1, d0), (2, d0), (3, d0)], "o_orderkey long, o_orderdate date"
    )
    supplier = spark.createDataFrame(
        [(7, "Supp7"), (8, "Supp8")], "s_suppkey long, s_name string"
    )
    for name, df, key in (
        ("bq21_lineitem", lineitem, "l_orderkey"),
        ("bq21_orders", orders, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(4, key).sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite").saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact⋈fact SMJ path (at real scale neither side
        # broadcasts); the supplier dim join stays broadcast via its
        # explicit F.broadcast hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = olap_deep.waiting_suppliers(
            spark.table("bq21_lineitem"), spark.table("bq21_orders"), supplier
        )
        # pre-execution plan: one copy of each node (the post-AQE final
        # plan string re-prints cached subplans and double-counts)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SortMergeJoin" in plan, plan
        rows = {r["s_suppkey"]: r["numwait"] for r in out.collect()}
        assert rows == {7: 1}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bq21_lineitem")
        spark.sql("DROP TABLE IF EXISTS bq21_orders")


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """The engine's stated skew story is "pre-salt when you must
    (salted_join_agg), otherwise AQE skew-join splits hot partitions at
    runtime". This asserts the second half actually fires: a join where
    one key holds ~all fact rows, run with skew thresholds scaled to
    test size, ends with AQE reporting a skew-join optimization and
    more join tasks than the static plan would have had — and the
    result is still exact."""
    import pyspark.sql.functions as sf

    skew_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in skew_conf}
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        # 200k fact rows on ONE key + 2k spread over 200 keys; the pad
        # is incompressible (per-row sha2) so the hot partition's
        # compressed shuffle size actually crosses the threshold
        fact = spark.range(202_000).select(
            sf.when(sf.col("id") < 200_000, sf.lit(7))
            .otherwise(sf.col("id") % 200).alias("k"),
            sf.sha2(sf.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(200).select(
            sf.col("id").alias("k"), (sf.col("id") * 10).alias("v")
        )
        # no same-key aggregation downstream: splitting a skewed
        # partition forfeits the join's hash-partitioning guarantee, so
        # AQE only splits when nothing downstream still requires it —
        # exactly the enrichment-join shape where skew actually hurts
        joined = fact.join(dim, "k").select("k", "pad", "v")
        # execute THIS DataFrame so its own adaptive plan finalizes
        # (.count() would execute a different, agg-wrapped plan)
        assert len(joined.collect()) == 202_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_and_bucketed_zone_prunes_and_joins_shuffle_free(
    spark, tmp_path
):
    """partition_by + bucketBy together: a date filter statically prunes
    partition directories (PartitionFilters) AND the order_id join over
    the same tables still runs with no shuffle Exchange — both layout
    benefits from one write."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        read_zone_tables,
        write_zone_table,
        zone_table_layout,
    )

    orders = spark.createDataFrame(
        [(i, "2025-03-0%d" % (1 + i % 3)) for i in range(60)],
        "order_id long, order_date string",
    )
    items = spark.createDataFrame(
        [(100 + i, i % 60, "2025-03-0%d" % (1 + (i % 60) % 3), float(i))
         for i in range(300)],
        "id long, order_id long, order_date string, sale_price double",
    )
    zone = str(tmp_path / "zone")
    for name, df in (("orders", orders), ("order_items", items)):
        write_zone_table(
            df, zone, name, layout="bucketed", table=f"pb_zone_test_{name}",
            n_buckets=4, partition_by="order_date",
        )
    names = {n: zone_table_layout(zone, n)["table"] for n in ("orders", "order_items")}
    try:
        assert zone_table_layout(zone, "order_items")["partition_by"] == [
            "order_date"
        ]
        back = read_zone_tables(spark, zone, list(names))
        one_day = back["order_items"].filter(F.col("order_date") == "2025-03-02")
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "order_date" in plan.split(
            "PartitionFilters"
        )[1][:200], plan
        assert one_day.count() == 100

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = (
                back["order_items"].select("id", "order_id", "sale_price")
                .hint("merge")
                .join(back["orders"].select("order_id"), "order_id")
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            assert joined.count() == 300
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Spark's runtime bloom-filter join pruning (on by default in the
    session) injects a might_contain() filter on the FACT side built
    from the selective dim side — row groups that can't match are
    dropped before the shuffle. The size thresholds are scaled down to
    test scale (the default application-side gate is 10 GB — exactly
    the 100 TB regime where this fires for free)."""
    import pyspark.sql.functions as sf

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1MB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
    }
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        fact = spark.range(500_000).select(
            sf.col("id").alias("k"), sf.sha2(sf.col("id").cast("string"), 256).alias("pay")
        )
        dim = spark.range(500_000).select(
            sf.col("id").alias("k"), (sf.col("id") % 100).alias("cat")
        )
        fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
        dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).filter(sf.col("cat") == 3)
        joined = f.join(d, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert joined.count() == 5_000
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_value_matches_reference_interleave(spark):
    """Morton interleave == the textbook bit-interleave on a grid of
    sample points, and z-locality holds: the four quadrants of the
    (x, y) plane occupy the four top-bit-pair classes."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.functions.core import (
        zorder_value,
    )

    bits = 4
    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", zorder_value([F.col("x"), F.col("y")], bits=bits)
        ).collect()
    }

    def ref(x, y):
        z = 0
        for j in range(bits):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    assert got == {(x, y): ref(x, y) for x, y in pts}
    # quadrant property: top bit pair identifies the (x, y) half-planes
    for (x, y), z in got.items():
        assert (z >> (2 * bits - 2)) & 1 == (x >> (bits - 1))
        assert (z >> (2 * bits - 1)) & 1 == (y >> (bits - 1))


def test_write_zordered_zone_clusters_both_dimensions(spark, tmp_path):
    """The z-ordered layout keeps BOTH clustered columns' min/max
    tight per output file: a box predicate on either dimension maps
    to a strict subset of files (checked via per-file min/max — the
    same statistics parquet row-group pruning applies), which the
    single-column sorted layout only achieves for its sort key."""
    import itertools

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zordered_zone,
    )

    rows = [(x, y, float(x * y)) for x, y in
            itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "x long, y long, v double")
    path = str(tmp_path / "zzone")
    domains = write_zordered_zone(df, path, ["x", "y"], n_ranges=8, bits=6)
    assert domains == {"x": (0.0, 63.0), "y": (0.0, 63.0)}
    back = spark.read.parquet(path)
    assert back.count() == 64 * 64
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
        .collect()
    )
    assert len(per_file) >= 4
    # z-locality discriminators (a file straddling a quadrant boundary
    # may legitimately span one full dimension — at most a handful of
    # boundary files exist, so the claims are distributional):
    # 1. a corner box query overlaps few files' bounding boxes — the
    #    pruning effect row-group stats deliver; an unclustered layout
    #    overlaps ALL of them
    overlapping = [
        r for r in per_file
        if r["min(x)"] <= 7 and r["min(y)"] <= 7
    ]
    assert len(overlapping) <= len(per_file) // 2, per_file
    # 2. BOTH dimensions stay tight for most files — a one-column sort
    #    fails this on its secondary dimension (y spans the full
    #    domain in every x-sorted file)
    tight_y = [r for r in per_file if r["max(y)"] - r["min(y)"] <= 48]
    tight_x = [r for r in per_file if r["max(x)"] - r["min(x)"] <= 48]
    assert len(tight_y) >= len(per_file) // 2, per_file
    assert len(tight_x) >= len(per_file) // 2, per_file


def test_unified_zone_metadata_drives_join_and_prune(spark, tmp_path):
    """VERDICT r6 #7: ONE writer records each zone table's physical
    layout beside the commit manifest, and readers reconstruct the
    right plan from the manifest ALONE — zone_equijoin goes
    Exchange-free off the recorded co-bucketing (no call-site bucket
    knowledge), and the sorted table's recorded sort_cols name the
    prunable predicate column, whose per-file parquet stats are tight
    enough that a narrow range touches a minority of files."""
    import glob
    import os

    import pyarrow.parquet as pq

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        prunable_cols,
        read_zone_tables,
        write_zone_table,
        zone_equijoin,
        zone_table_layout,
    )

    zone = str(tmp_path / "zone")
    orders = spark.createDataFrame(
        [(i, 100 + i % 7, f"2025-03-{1 + i % 28:02d}") for i in range(400)],
        "order_id long, user_id long, order_date string",
    )
    items = spark.createDataFrame(
        [(1000 + i, i % 400, float(i % 50)) for i in range(1200)],
        "id long, order_id long, sale_price double",
    )
    daily = spark.createDataFrame(
        [(f"2025-{1 + (i // 28) % 12:02d}-{1 + i % 28:02d}", float(i))
         for i in range(3000)],
        "order_date string, revenue double",
    )
    try:
        write_zone_table(
            orders, zone, "orders", layout="bucketed",
            table="uzm_orders", bucket_col="order_id", n_buckets=4,
        )
        write_zone_table(
            items, zone, "order_items", layout="bucketed",
            table="uzm_items", bucket_col="order_id", n_buckets=4,
        )
        spec = write_zone_table(
            daily, zone, "daily", layout="sorted",
            sort_cols=["order_date"], n_ranges=8,
        )
        # layout round-trips from disk
        assert zone_table_layout(zone, "orders")["n_buckets"] == 4
        assert zone_table_layout(zone, "daily")["sort_cols"] == ["order_date"]
        assert prunable_cols(spec) == ["order_date"]

        # Exchange-free join decided by the manifest, not the caller
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = zone_equijoin(
                spark, zone, "order_items", "orders", on="order_id"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1200
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # prune from the manifest: the recorded sort column's per-file
        # stats are tight — a one-month predicate intersects a strict
        # minority of the sorted files
        col = prunable_cols(zone_table_layout(zone, "daily"))[0]
        files = glob.glob(os.path.join(zone, "daily", "part-*.parquet"))
        assert len(files) >= 4
        touching = 0
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            idx = md.schema.names.index(col)
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if not (hi < "2025-06-01" or lo > "2025-06-28"):
                touching += 1
        assert touching <= len(files) // 2, (touching, len(files))

        # layout-aware reader returns catalog-backed bucketed tables
        dfs = read_zone_tables(spark, zone, ["orders", "daily"])
        assert dfs["orders"].count() == 400
        assert dfs["daily"].count() == 3000
    finally:
        for t in ("uzm_orders", "uzm_items"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pipeline_batch_zone_is_self_describing(spark, tmp_path):
    """pipeline_batch's bucketed validated zone records its layout spec
    in the zone manifest (write_zone_table publishes it), so a later
    reader session needs NO call-site knowledge:
    zone_table_layout round-trips the spec and zone_equijoin joins the
    facts Exchange-free from the manifest alone."""
    import os

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        zone_equijoin,
        zone_table_layout,
    )

    from test_lm_and_quota import _write_raw

    raw = str(_write_raw(tmp_path))
    out = str(tmp_path / "out")
    try:
        pipeline_batch.run(spark, raw, out, validated_layout="bucketed")
        vdir = os.path.join(out, "validated")
        spec_o = zone_table_layout(vdir, "orders")
        spec_i = zone_table_layout(vdir, "order_items")
        assert spec_o["layout"] == "bucketed"
        assert spec_o["bucket_col"] == "order_id"
        assert spec_o["n_buckets"] == spec_i["n_buckets"]
        assert spec_o["partition_by"] == ["order_year"]
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = zone_equijoin(
                spark, vdir, "order_items", "orders", on="order_id"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in ("validated_orders", "validated_order_items"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_zone_equijoin_non_cobucketed_takes_shuffle_hash(spark, tmp_path):
    """ADVICE r7: when the manifest says the sides are NOT co-bucketed
    on the join key, zone_equijoin's spec check must actually decide
    the plan — the fall-through gets an explicit SHUFFLE_HASH build
    (a fact⋈fact join must shuffle anyway; the hash build skips the
    sort-merge sorts and can never misestimate a fact into a
    broadcast)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zone_table,
        zone_equijoin,
    )

    zdir = str(tmp_path / "zone")
    a = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_zone_table(a, zdir, "ta", layout="flat")
    write_zone_table(b, zdir, "tb", layout="flat")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = zone_equijoin(spark, zdir, "ta", "tb", on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_zone_equijoin_small_side_lets_aqe_broadcast(spark, tmp_path):
    """ADVICE r8: the non-co-bucketed SHUFFLE_HASH hint is gated on
    both sides being fact-sized — when one side is a tiny dimension
    table (under the session broadcast threshold), no hint is applied
    and the planner broadcasts it as usual."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zone_table,
        zone_equijoin,
    )

    zdir = str(tmp_path / "zone")
    fact = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    dim = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_zone_table(fact, zdir, "fact", layout="flat")
    write_zone_table(dim, zdir, "dim", layout="flat")
    joined = zone_equijoin(spark, zdir, "fact", "dim", on="k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert joined.count() == 20


def test_zone_equijoin_bad_threshold_raises(spark, tmp_path):
    """ADVICE r9: an unparseable autoBroadcastJoinThreshold raises
    instead of silently substituting a default that changes the
    join plan with no signal."""
    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        _parse_bytes,
    )

    with pytest.raises(ValueError, match="unparseable"):
        _parse_bytes("lots")
    assert _parse_bytes("10485760") == 10 * (1 << 20)
    assert _parse_bytes("10m") == 10 * (1 << 20)
    assert _parse_bytes("10MB") == 10 * (1 << 20)
    assert _parse_bytes("-1") == -1


def test_zone_equijoin_unknown_size_keeps_hint_and_warns(
    spark, tmp_path
):
    """ADVICE r9: a zone table whose manifest path is missing/empty is
    'size unknown', not 'size 0' — the SHUFFLE_HASH gate keeps the
    fact-sized branch (the hint) and warns, instead of silently
    flipping to the no-hint plan."""
    import json
    import os
    import warnings

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zone_table,
        zone_equijoin,
    )

    zdir = str(tmp_path / "zone")
    a = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_zone_table(a, zdir, "ta", layout="flat")
    write_zone_table(b, zdir, "tb", layout="flat")
    # point tb's manifest path somewhere empty: size becomes unknown
    mpath = os.path.join(zdir, "_manifest", "tb", "_layout.json")
    with open(mpath) as f:
        doc = json.load(f)
    doc["path"] = str(tmp_path / "nowhere")
    with open(mpath, "w") as f:
        json.dump(doc, f)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with warnings.catch_warnings(record=True):
            warnings.simplefilter("always")
            joined = zone_equijoin(spark, zdir, "ta", "tb", on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_write_zone_table_partition_by_typo_raises(spark, tmp_path):
    """ADVICE r8: a partition_by column absent from the DataFrame is
    a caller typo — write_zone_table raises instead of quietly
    landing an unpartitioned table that breaks the partition-pruned
    view contract downstream."""
    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        write_zone_table,
    )

    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="partition_by"):
        write_zone_table(
            df, str(tmp_path / "z"), "t", layout="flat",
            partition_by="no_such_col",
        )


def test_registered_bucketed_kpi_queries_are_exchange_free_on_j2(spark):
    """VERDICT r9 #6 follow-through: the REGISTERED category_kpi_bucketed /
    order_kpi_bucketed entries (hash-gated against the raw-path KPI
    oracles) must actually earn the layout — their J2 items⋈orders
    join reads the co-bucketed catalog tables with no shuffle
    Exchange before the join (the only Exchange hashpartitioning
    allowed is the one the KPI aggregation itself pays)."""
    import re

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("category_kpi_bucketed", "order_kpi_bucketed"):
            plan = (
                QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SortMergeJoin" in plan, plan
            # the join inputs come straight from the bucketed scan: no
            # hashpartitioning exchange on order_id anywhere in the plan
            assert not re.search(
                r"Exchange hashpartitioning\(order_id", plan
            ), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
