"""Batch pipeline orchestrator — the reference's Task-1 → Task-2 flow
as one Spark application.

A user of the reference runs: upload files → Lambda → Step Functions →
Task 1 (validate, write ``validated/``) → Task 2 (KPIs, write DynamoDB
+ ``processed/``, archive raw). The batch equivalent here is a single
driver program over the same directory layout:

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import pipeline_batch
    pipeline_batch.run(spark, raw_dir, out_dir)

or ``python -m real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark --raw DIR --out DIR``.

Differences from the reference, on purpose (SURVEY.md §3/§7):

* the two stages compose lazily, so Catalyst optimizes across the
  Task-1/Task-2 boundary; the ``validated/`` zone is written only when
  a ``validated_layout`` is asked for, through the one zone writer
  (``sinks.files.write_zone_table``), which records each table's
  layout in the zone manifest;
* the KPI "DynamoDB tables" are keyed parquet upsert tables
  (``sinks.kv``) — same upsert contract, no row-at-a-time puts;
* the archive step moves processed raw files only when asked
  (``archive=True``), and computes the file list at run time, not
  import time (the reference's ordering hazard, ``task_2.py:261-263``).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import kpi, validate
from .sinks.files import write_processed_zone, write_zone_table
from .sinks.kv import KeyedParquetUpsertSink
from .sources.readers import load_ecommerce_csv, require_inputs

#: ``write_zone_table`` arguments per validated-zone layout; a table
#: with no entry is written flat.
VALIDATED_LAYOUTS: dict[str, dict[str, dict]] = {
    "flat": {"orders": {"partition_by": "order_date"}},
    "bucketed": {
        name: {
            "layout": "bucketed",
            "table": f"validated_{name}",
            "partition_by": "order_year",
        }
        for name in ("orders", "order_items")
    },
    "zorder": {
        "orders": {"layout": "zorder", "zorder_cols": ["order_date", "user_id"]},
        "order_items": {
            "layout": "zorder",
            "zorder_cols": ["order_id", "product_id"],
        },
    },
}


def run(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    run_ts: str | None = None,
    validated_layout: str | None = None,
    archive: bool = False,
) -> dict[str, str]:
    """Execute the full validate→transform pipeline; returns output paths.

    ``validated_layout`` materializes the validated zone (S5) under
    ``{out_dir}/validated`` in one of the :data:`VALIDATED_LAYOUTS`;
    ``None`` (the default) writes no zone. Every table's layout —
    catalog table name, bucket spec, z-order domains — is recorded in
    the zone manifest, so readers use ``sinks.files.read_zone_tables``
    / ``zone_table_layout`` with no call-site knowledge.

    * ``"flat"`` — plain parquet; ``orders`` partitioned by
      ``order_date``.
    * ``"bucketed"`` — both facts as catalog tables
      ``validated_<name>``, ``bucketBy(order_id)`` with
      ``partitionBy(order_year)`` under the buckets, in one write:
      every KPI run against the zone joins items⋈orders Exchange-free
      and a year window prunes whole directories on both facts. Items
      carry no date of their own, so they pick the year up through a
      join on the unique ``order_id`` (row-preserving: items already
      passed the J1 semi-join against valid orders). The grain is the
      YEAR deliberately — a month grain measured 2,700 files/table at
      factor 10 (BASELINE.md).
    * ``"zorder"`` — Morton-clustered: orders on ``(order_date,
      user_id)``, items on ``(order_id, product_id)``; box probes on
      either clustered dimension prune row groups (pruning matrix in
      BASELINE.md).
    """
    if validated_layout is not None and validated_layout not in VALIDATED_LAYOUTS:
        raise ValueError(f"unknown validated_layout: {validated_layout!r}")
    require_inputs(raw_dir)  # S3 readiness gate
    raw = load_ecommerce_csv(spark, raw_dir)
    valid = validate.run_validation(raw["products"], raw["orders"], raw["order_items"])

    paths = {}
    if validated_layout is not None:
        zone = dict(valid)
        if validated_layout == "bucketed":
            orders = zone["orders"].withColumn(
                "order_year", F.date_format("order_date", "yyyy")
            )
            zone["orders"] = orders
            zone["order_items"] = zone["order_items"].join(
                orders.select("order_id", "order_year"), "order_id"
            )
        vdir = os.path.join(out_dir, "validated")
        specs = VALIDATED_LAYOUTS[validated_layout]
        for name, df in zone.items():
            write_zone_table(df, vdir, name, **specs.get(name, {}))
        paths["validated"] = vdir

    kpis = kpi.run_transformation(valid["products"], valid["orders"], valid["order_items"])

    cat_sink = KeyedParquetUpsertSink(os.path.join(out_dir, "category_kpi"), "order_date")
    ord_sink = KeyedParquetUpsertSink(os.path.join(out_dir, "order_kpi"), "order_date")
    cat_sink.upsert(kpis["category_kpi"])
    ord_sink.upsert(kpis["order_kpi"])
    paths["category_kpi"] = cat_sink.path
    paths["order_kpi"] = ord_sink.path

    ts = run_ts or _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d-T-%H:%M:%S")
    processed = os.path.join(out_dir, "processed")
    write_processed_zone(kpis, processed, ts)
    paths["processed"] = os.path.join(processed, ts)

    if archive:
        # file list computed now, after all reads (not at import time)
        arch = os.path.join(out_dir, "archive", ts)
        os.makedirs(arch, exist_ok=True)
        for name in ("orders", "order_items"):
            src = os.path.join(raw_dir, name)
            if os.path.isdir(src):
                shutil.move(src, os.path.join(arch, name))
        paths["archive"] = arch
    return paths
