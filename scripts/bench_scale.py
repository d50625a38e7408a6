"""Scale-headroom bench: inflate the sf0.1 facts ~10× (union with
shifted keys — dims unchanged) into a temp dir, then run the headline
fact-heavy queries there. Separates per-query fixed overhead from
throughput: a plan that only looked fast because 600k rows fit in one
AQE-coalesced partition shows up immediately at 6M.

Usage: python scripts/bench_scale.py [factor] [sf_dir]
Prints one JSON line {"metric": "scale_bench", "factor": N, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE_QUERIES = [
    "category_kpi",
    "order_kpi",
    "pricing_summary",
    "local_supplier_volume",
    "product_profit",
    "customer_distribution",
    "price_quantiles",
    "waiting_suppliers",
    "revenue_forecast",
    "shipping_priority",
]


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        get_spark,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_testdata,
    )

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="spark_graft_scale_")
    try:
        # dims copy through; facts union `factor` shifted copies so keys
        # stay consistent (orderkey shift preserves orders⋈lineitem,
        # custkey/suppkey/partkey untouched so dim joins still hit).
        dims = ["region", "nation", "customer", "supplier", "part",
                "events", "documents", "embeddings"]
        loaded = load_testdata(spark, sf_dir, tuple(dims + ["orders", "lineitem"]))
        for name in dims:
            loaded[name].write.mode("overwrite").parquet(f"{tmp}/{name}.parquet")
        orders = loaded["orders"]
        lineitem = loaded["lineitem"]
        max_ok = orders.agg(F.max("o_orderkey")).first()[0] + 1
        o_parts = [
            orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok))
            for i in range(factor)
        ]
        l_parts = [
            lineitem.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
            for i in range(factor)
        ]
        o_all, l_all = o_parts[0], l_parts[0]
        for p in o_parts[1:]:
            o_all = o_all.unionByName(p)
        for p in l_parts[1:]:
            l_all = l_all.unionByName(p)
        o_all.repartition(16).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        l_all.repartition(32).write.mode("overwrite").parquet(
            f"{tmp}/lineitem.parquet"
        )

        n_rows = spark.read.parquet(f"{tmp}/lineitem.parquet").count()
        # warm
        QUERIES["category_kpi"](spark, tmp).write.mode("overwrite").format(
            "noop"
        ).save()
        timings: dict[str, float] = {}
        for name in SCALE_QUERIES:
            t0 = time.perf_counter()
            QUERIES[name](spark, tmp).write.mode("overwrite").format("noop").save()
            timings[name] = round(time.perf_counter() - t0, 3)

        # bucketed-zone KPI at scale (VERDICT r3 item #6): zone write
        # timed separately — it is the once-per-ingest cost the
        # per-query Exchange elimination amortizes
        from bench import _bucketed_kpi_setup

        zone = tempfile.mkdtemp(prefix="scale_bucketed_zone_")
        try:
            t0 = time.perf_counter()
            run_map, tables = _bucketed_kpi_setup(spark, tmp, zone)

            # raw TPC-H facts co-bucketed on orderkey: the Q21-shape
            # waiting_suppliers joins lineitem⋈orders on orderkey and
            # every aggregate reuses that partitioning, so over the
            # bucketed zone its ONLY shuffle is the final tiny suppkey
            # count (plan asserted in tests/test_sources_bucketing.py)
            n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            for raw_name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
                table = f"scale_bucketed_{raw_name}"
                spark.sql(f"DROP TABLE IF EXISTS {table}")
                (
                    spark.read.parquet(f"{tmp}/{raw_name}.parquet")
                    .write.format("parquet")
                    .bucketBy(n_buckets, key)
                    .sortBy(key)
                    .option("path", f"{zone}/raw_{raw_name}")
                    .mode("overwrite")
                    .saveAsTable(table)
                )
            zone_write_s = round(time.perf_counter() - t0, 3)

            from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
                olap_deep,
            )

            supplier = loaded["supplier"]
            run_map = dict(run_map)
            run_map["waiting_suppliers_bucketed"] = lambda: (
                olap_deep.waiting_suppliers(
                    spark.table("scale_bucketed_lineitem"),
                    spark.table("scale_bucketed_orders"),
                    supplier,
                ).write.mode("overwrite").format("noop").save()
            )
            for bname, run_bucketed in run_map.items():
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    run_bucketed()
                    best = min(best, time.perf_counter() - t0)
                timings[bname] = round(best, 3)
            for t in tables.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            for raw_name in ("lineitem", "orders"):
                spark.sql(f"DROP TABLE IF EXISTS scale_bucketed_{raw_name}")
        finally:
            shutil.rmtree(zone, ignore_errors=True)

        # shipdate-sorted lineitem zone (ROADMAP r5 #2): range-partition
        # + sort the fact on l_shipdate once at write time, so every
        # date-scoped scan prunes at the parquet ROW-GROUP level via
        # min/max stats — the layout half of partition pruning, with no
        # directory explosion and no change to any query. At 100 TB
        # this is the standard fact layout: cluster on the dominant
        # filter column, bucket on the dominant join key (the bucketed
        # entries above measure the join half).
        sorted_dir = tempfile.mkdtemp(prefix="scale_sorted_zone_")
        try:
            for name in dims + ["orders"]:
                os.symlink(f"{tmp}/{name}.parquet",
                           f"{sorted_dir}/{name}.parquet")
            t0 = time.perf_counter()
            (
                spark.read.parquet(f"{tmp}/lineitem.parquet")
                .repartitionByRange(32, "l_shipdate")
                .sortWithinPartitions("l_shipdate")
                .write.mode("overwrite")
                .parquet(f"{sorted_dir}/lineitem.parquet")
            )
            sorted_write_s = round(time.perf_counter() - t0, 3)
            for name in ("pricing_summary", "revenue_forecast",
                         "shipping_priority", "price_quantiles"):
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    QUERIES[name](spark, sorted_dir).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    best = min(best, time.perf_counter() - t0)
                timings[f"{name}_shipsorted"] = round(best, 3)
        finally:
            shutil.rmtree(sorted_dir, ignore_errors=True)

        # unified zone spec (ROADMAP r6 #3): date-partition UNDER the
        # order_id buckets in ONE write — the validation stage already
        # joins items⋈orders, so deriving the order year onto items is
        # free there; the layout then gives a year-windowed KPI BOTH
        # static partition pruning (two sides) and the Exchange-free
        # join. The raw path must scan the full items table because
        # without the enrichment items carry no date at all. Partition
        # granularity is the YEAR deliberately: finer grains multiply
        # (partitions x buckets) files until the write and the read
        # both drown in file overhead (a month grain was measured at
        # 288 s write / 2700 files per table at factor 10 — the
        # too-many-small-files failure mode, kept out by design).
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
            kpi,
            mapping,
        )
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
            read_zone_tables,
            write_zone_table,
        )

        n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        pz = tempfile.mkdtemp(prefix="scale_pb_zone_")
        year = "1996"
        try:
            raw_orders = spark.read.parquet(f"{tmp}/orders.parquet")
            raw_items = spark.read.parquet(f"{tmp}/lineitem.parquet")
            z_orders = (
                mapping.orders_from_tpch(raw_orders)
                .withColumn("order_date", F.to_date("created_at"))
                .withColumn(
                    "order_year", F.date_format("created_at", "yyyy")
                )
            )
            z_items = mapping.order_items_from_tpch(raw_items).join(
                z_orders.select("order_id", "order_year"), "order_id"
            )
            t0 = time.perf_counter()
            names = {
                name: write_zone_table(
                    df, pz, name, layout="bucketed",
                    table=f"scale_pb_{name}", n_buckets=n_buckets,
                    partition_by="order_year",
                )["table"]
                for name, df in (("orders", z_orders), ("order_items", z_items))
            }
            pb_write_s = round(time.perf_counter() - t0, 3)
            back = read_zone_tables(spark, pz, ["orders", "order_items"])
            products = mapping.products_from_tpch(
                spark.read.parquet(f"{tmp}/part.parquet")
            )

            def pb_zone():
                fact = kpi.build_item_fact(
                    back["order_items"]
                    .filter(F.col("order_year") == year)
                    .drop("order_year"),
                    back["orders"]
                    .filter(F.col("order_year") == year)
                    .drop("order_year"),
                    products,
                    extra_order_cols=("user_id",),
                )
                kpi.category_kpi(fact).write.mode("overwrite").format(
                    "noop"
                ).save()

            def pb_raw():
                orders_m = (
                    mapping.orders_from_tpch(raw_orders)
                    .withColumn("order_date", F.to_date("created_at"))
                    .filter(F.date_format("created_at", "yyyy") == year)
                )
                fact = kpi.build_item_fact(
                    mapping.order_items_from_tpch(raw_items),
                    orders_m,
                    products,
                    extra_order_cols=("user_id",),
                )
                kpi.category_kpi(fact).write.mode("overwrite").format(
                    "noop"
                ).save()

            for bname, run in (
                ("year_kpi_raw", pb_raw),
                ("year_kpi_partitioned_bucketed", pb_zone),
            ):
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    run()
                    best = min(best, time.perf_counter() - t0)
                timings[bname] = round(best, 3)
            for t in names.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        finally:
            shutil.rmtree(pz, ignore_errors=True)

        # convergence-stopped PageRank over the REAL co-purchase graph
        # at corpus scale (ROADMAP r9 #3): record the superstep count
        # a production run actually pays and the wall time, with the
        # ping-pong zone checkpoints bounding plan depth per block
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
            graph,
        )

        prz = tempfile.mkdtemp(prefix="scale_pagerank_zone_")
        try:
            edges = graph.copurchase_edges(
                spark.read.parquet(f"{tmp}/lineitem.parquet"),
                min_support=2,
            )
            t0 = time.perf_counter()
            ranks = graph.pagerank_converged(
                edges, prz, damping=0.85, tol=1e-9,
                checkpoint_every=5, max_supersteps=60,
            )
            top = ranks.orderBy(
                F.desc("pagerank"), F.asc("node")
            ).limit(1).collect()
            timings["copurchase_pagerank_converged"] = round(
                time.perf_counter() - t0, 3
            )
            timings["copurchase_pagerank_supersteps"] = (
                int(top[0]["supersteps"]) if top else 0
            )
        finally:
            shutil.rmtree(prz, ignore_errors=True)

        print(
            json.dumps(
                {
                    "metric": "scale_bench",
                    "factor": factor,
                    "lineitem_rows": n_rows,
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "queries": timings,
                    "bucketed_zone_write_sec": zone_write_s,
                    "sorted_zone_write_sec": sorted_write_s,
                    "partitioned_zone_write_sec": pb_write_s,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
