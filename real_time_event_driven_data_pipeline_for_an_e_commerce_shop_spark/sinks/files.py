"""Zone sinks — the reference's S5/S6 CSV writers, Spark-first.

* S5 validated zone (``/root/reference/Task_1/task_1.py:148-158``):
  the reference serializes whole DataFrames to CSV strings on the
  driver and PUTs them to S3; here every zone table goes through ONE
  writer, :func:`write_zone_table` — a distributed parquet write in a
  recorded physical layout (flat, optionally directory-partitioned,
  or bucketed), read back layout-aware by :func:`read_zone_tables`.
* S6 processed zone (``Task_2/task_2.py:200-235``): run-timestamped
  output directory; the timestamp comes from the caller (driver),
  never from data — same as the reference.

At 100 TB the layout is the dominant read-cost knob: a date-partitioned
zone lets the KPI stage and any date-ranged query prune partitions
statically; the bucketed layout additionally clusters facts by
``order_id`` so the items⋈orders join (J2) runs Exchange-free (bucket
co-location). ``pipeline_batch.VALIDATED_LAYOUTS`` names the layouts
the batch pipeline offers for the validated zone.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def write_processed_zone(
    kpis: dict[str, DataFrame], base_dir: str, run_ts: str
) -> None:
    """Run-timestamped KPI outputs (S6) as headed CSV:
    ``{base}/{run_ts}/{name}``."""
    for name, df in kpis.items():
        df.write.mode("overwrite").option("header", True).csv(
            f"{base_dir}/{run_ts}/{name}"
        )


# --- unified zone metadata (VERDICT r6 #7) ----------------------------
#
# The epoch manifest already owns WHAT is committed; these record HOW
# each table is laid out — catalog table, bucket column/count,
# directory partitions — in the same `_manifest/{name}` directory, so a
# reader picks the catalog (bucketed) or path read from METADATA
# instead of call-site convention (the "an ACID format would carry
# both" note in BASELINE.md, closed). The layout file is written with
# the same tmp+rename atomicity as the epoch markers.

ZONE_LAYOUT_FILE = "_layout.json"


def _zone_meta_dir(zone_dir: str, name: str) -> str:
    return os.path.join(zone_dir, "_manifest", name)


def record_zone_layout(zone_dir: str, name: str, spec: dict) -> None:
    """Atomically publish a zone table's physical-layout spec."""
    d = _zone_meta_dir(zone_dir, name)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{ZONE_LAYOUT_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.rename(tmp, os.path.join(d, ZONE_LAYOUT_FILE))


def zone_table_layout(zone_dir: str, name: str) -> dict | None:
    """The recorded layout spec, or None for an unmanaged table."""
    p = os.path.join(_zone_meta_dir(zone_dir, name), ZONE_LAYOUT_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_zone_table(
    df: DataFrame,
    zone_dir: str,
    name: str,
    layout: str = "flat",
    table: str | None = None,
    bucket_col: str = "order_id",
    n_buckets: int = 32,
    partition_by: str | list[str] | None = None,
) -> dict:
    """ONE writer for every zone layout the engine reads — the
    physical spec is chosen here and RECORDED here, so no reader ever
    needs call-site knowledge:

    * ``bucketed`` — catalog table, ``bucketBy(n_buckets, bucket_col)``
      (+ optional directory ``partition_by`` layered under the
      buckets): equi-joins/aggs on the bucket column run Exchange-free
      between co-bucketed tables read back through the catalog.
    * ``flat`` — plain parquet, optionally directory-partitioned by
      ``partition_by`` (dimensions, small outputs, date-pruned facts).

    Returns the recorded spec. At 100 TB the choice of layout is the
    dominant read-cost knob; recording it beside the commit manifest
    makes the zone self-describing — :func:`read_zone_tables`
    reconstructs the right read from disk alone.
    """
    # normalize to a list: multi-level directory partitioning
    # (e.g. phase/shard for the curriculum zone) is one writer path
    part_cols = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    missing_parts = [c for c in part_cols if c not in df.columns]
    if missing_parts:
        # silently writing unpartitioned would break the
        # partition-pruned view contract downstream — fail fast, same
        # discipline as _order_col_names (ADVICE r8)
        raise ValueError(
            f"write_zone_table: partition_by={missing_parts!r} are not "
            f"columns of {name!r} (columns: {df.columns})"
        )
    if layout not in ("flat", "bucketed"):
        raise ValueError(f"unknown zone layout {layout!r}")
    path = os.path.join(zone_dir, name)
    spec: dict = {"layout": layout, "path": path, "format": "parquet"}
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
        spec["partition_by"] = part_cols
    if layout == "bucketed":
        table = table or f"zone_{name}"
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
        writer.format("parquet").option("path", path).bucketBy(
            n_buckets, bucket_col
        ).sortBy(bucket_col).saveAsTable(table)
        spec |= {
            "table": table,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
        }
    else:
        writer.parquet(path)
    record_zone_layout(zone_dir, name, spec)
    return spec


def read_zone_tables(
    spark: SparkSession, zone_dir: str, names: list[str]
) -> dict[str, DataFrame]:
    """Layout-aware zone reads: bucketed tables come back THROUGH THE
    CATALOG (a raw path read would drop the bucket metadata and
    re-shuffle every join); everything else is a path read. The
    caller supplies only names — the manifest supplies the physics."""
    out: dict[str, DataFrame] = {}
    for name in names:
        spec = zone_table_layout(zone_dir, name)
        if spec and spec.get("table"):
            out[name] = spark.table(spec["table"])
        else:
            out[name] = spark.read.parquet(os.path.join(zone_dir, name))
    return out
