"""Event-driven pipeline — the reference's Lambda + Step Functions +
sentinel-file orchestration (SURVEY.md §2.7), as Structured Streaming.

Mapping, piece by piece:

* S3 PutObject → Lambda trigger (``lambda_trigger.py:8-28``) → file
  sources: ``spark.readStream...csv`` over ``orders/`` and
  ``order_items/`` discovers newly arrived files per micro-batch; an
  upload to either directory starts an epoch.
* run-once sentinel (``lambda_trigger.py:31-42,68``, operator S4) →
  the **checkpoint** plus the **epoch manifest**: offsets + sink commit
  log give exactly-once processing of each arrived file, and every
  landed epoch is an atomically committed ``_epoch`` partition, so a
  replayed epoch never lands twice.
* readiness gate (``:44-65``, S3-op) → :func:`sources.readers.
  require_inputs` pre-flight.
* Task1 → Task2 sequencing (``StateMachine.txt``) → inside one epoch,
  validated orders land before validated items, and the KPIs are
  recomputed from the landed zone afterwards.
* archive-after-process (``Task_2/task_2.py:237-263``, S8) → once
  the query has committed every epoch, the upload files present when
  it started (all of which ``availableNow`` processes) move under
  ``archive_dir``. Spark's ``cleanSource`` archives a batch's files
  only when the next batch starts, so it leaves a run's last upload in
  place.
* ``trigger(availableNow=True)`` reproduces the reference's
  run-per-upload-batch cadence; swap for ``processingTime`` for a
  continuously running deployment.

The event path is incremental on both sides. Each upload is parsed and
validated once, when it arrives, and lands in a zone under
``out_dir/_landed`` (orders and items partitioned by ``order_date``).
The KPIs of the dates an epoch landed are then recomputed from those
date partitions alone, so the work per epoch follows the upload and
the touched dates, not the raw history (see
:func:`run_event_driven_pipeline`).
"""

from __future__ import annotations

import datetime
import logging
import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_log = logging.getLogger(__name__)

from ..operators import kpi, validate
from ..schemas import ORDER_ITEMS_SCHEMA, ORDERS_SCHEMA, PRODUCTS_SCHEMA
from ..sinks.kv import KeyedParquetUpsertSink
# ``load_ecommerce_csv`` stays importable here: perfbench's tracer wraps
# it under this module's name
from ..sources.readers import (  # noqa: F401
    load_ecommerce_csv,
    read_csv_table,
    require_inputs,
)

#: Directory under ``out_dir`` that holds the event pipeline's landed zone.
EVENT_ZONE_DIR = "_landed"
#: The directory name Spark writes a null partition value under.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def run_event_driven_pipeline(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
):
    """Run the file-triggered KPI pipeline over a reference-shaped raw
    zone (``products.csv``, ``orders/``, ``order_items/``) until every
    arrived file is processed; returns the terminated query.

    One query streams the union of the ``orders/`` and
    ``order_items/`` file sources, tagged by table, so an upload to
    either directory starts an epoch. Each epoch:

    1. lands its P1-validated orders, with ``is_returned``, in the
       ``orders`` zone, partitioned by ``order_date``;
    2. joins its P2/P3-validated items, plus the items still pending
       from the epoch before, with the landed order keys (J1) and lands
       them in the ``order_items`` zone, each stamped with its order's
       ``order_date``. An item whose order has not landed yet gets a
       null date: the epoch's null-date partition is the new pending
       set, so an item that arrives before its order counts once the
       order lands, as in batch;
    3. upserts ``category_kpi`` / ``order_kpi`` for the dates it landed
       items under (read from the zone's ``_epoch`` directory), with
       the batch KPI functions over those date partitions ⋈ broadcast
       ``products.csv``.

    Every landing goes through the epoch manifest (:func:`_land_epoch`),
    so a replayed epoch skips what it already committed, while step 3
    runs on every replay: a crash between the commit and the upsert
    heals on restart. The input of an epoch is its upload,
    ``products.csv``, the touched dates' partitions and the
    ``order_id`` column of the orders zone (the J1 lookup), not the
    raw history; about 13 Spark jobs per one-day upload.

    All state lives under ``out_dir`` and ``checkpoint_dir``, addressed
    by path, so two calls with different ``out_dir`` share nothing. A
    checkpoint written by an earlier version that streamed
    ``order_items/`` alone cannot be resumed: start from a fresh one.

    ``order_id`` is the orders key: each order id must land once. An id
    that lands in two order rows stamps its items twice, and its dates'
    KPIs then differ from a batch run.
    """
    require_inputs(raw_dir)  # S3 readiness gate, before any landing
    zone_dir = os.path.join(out_dir, EVENT_ZONE_DIR)
    orders_zone, items_zone = (
        _Zone(name, None, zone_dir, partition_cols=("order_date",))
        for name in ("orders", "order_items")
    )
    cat_sink = KeyedParquetUpsertSink(
        os.path.join(out_dir, "category_kpi"), "order_date"
    )
    ord_sink = KeyedParquetUpsertSink(os.path.join(out_dir, "order_kpi"), "order_date")
    orders_stream, items_stream = (
        _csv_stream(spark, schema, os.path.join(raw_dir, name)).withColumn(
            "_table", F.lit(name)
        )
        for name, schema in (
            ("orders", ORDERS_SCHEMA), ("order_items", ORDER_ITEMS_SCHEMA)
        )
    )
    stream = orders_stream.unionByName(items_stream, allowMissingColumns=True)

    def rows_of(batch: DataFrame, name: str, schema: StructType) -> DataFrame:
        return batch.filter(F.col("_table") == name).select(*schema.fieldNames())

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        orders = kpi.with_return_flag(
            validate.validate_orders(rows_of(batch, "orders", ORDERS_SCHEMA))
        )
        items = validate.validate_order_item_rows(
            rows_of(batch, "order_items", ORDER_ITEMS_SCHEMA)
        )
        _land_epoch(spark, orders, orders_zone, epoch_id)
        # J1 and the date stamp in one join against the landed order
        # keys; an item whose order has not landed gets a null date and
        # so lands in the epoch's pending partition
        keys = _read_path_zone(spark, orders_zone, orders.schema).select(
            "order_id", "order_date"
        )
        pending = _pending_before(spark, items_zone, items.schema, epoch_id)
        stamped = items.unionByName(pending).join(keys, "order_id", "left")
        _land_epoch(spark, stamped, items_zone, epoch_id)
        # each epoch lands the whole pending set: older ones are dead
        for old in _on_disk_epochs(os.path.join(zone_dir, items_zone.name)):
            if old < epoch_id:
                shutil.rmtree(_pending_dir(items_zone, old), ignore_errors=True)

        dates = _landed_dates(items_zone, epoch_id)
        if not dates:
            return
        touched = F.col("order_date").isin(
            [datetime.date.fromisoformat(d) for d in sorted(dates)]
        )
        fact = (
            kpi.build_item_fact(
                _read_path_zone(spark, items_zone, stamped.schema)
                .filter(touched)
                .drop("order_date"),
                _read_path_zone(spark, orders_zone, orders.schema).filter(touched),
                read_csv_table(
                    spark, os.path.join(raw_dir, "products.csv"), PRODUCTS_SCHEMA
                ),
            )
            .persist()
        )
        try:
            cat_sink.upsert(kpi.category_kpi(fact))
            ord_sink.upsert(kpi.order_kpi(fact))
        finally:
            fact.unpersist()

    uploads = [
        os.path.abspath(os.path.join(raw_dir, name, f))
        for name in ("orders", "order_items")
        for f in sorted(os.listdir(os.path.join(raw_dir, name)))
        if archive_dir is not None and not f.startswith(("_", "."))
    ]
    # zone-less on purpose: each landing skips itself once committed,
    # and the KPI upsert must run on every replay
    query = _run_epochs(spark, stream, checkpoint_dir, (), process_batch)
    for src in uploads:
        # at its absolute path, the layout of Spark's sourceArchiveDir
        dst = os.path.join(archive_dir, src.lstrip("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
    return query


def _read_path_zone(
    spark: SparkSession, zone: _Zone, schema: StructType
) -> DataFrame:
    """Committed rows of a path-addressed zone; ``schema`` holds the
    landed columns, partition columns included. Crash orphans are
    pruned the way :func:`read_manifest_zone` prunes them."""
    path = os.path.join(zone.root, zone.name)
    full = StructType([*schema.fields, StructField("_epoch", LongType())])
    if not os.path.isdir(path):
        return spark.createDataFrame([], full)
    df = spark.read.schema(full).parquet(path)
    orphans = _on_disk_epochs(path) - committed_epochs(zone.root, zone.name)
    if orphans:
        df = df.filter(~F.col("_epoch").isin(sorted(orphans)))
    return df


def _pending_dir(zone: _Zone, epoch_id: int) -> str:
    """Where epoch ``epoch_id`` of ``zone`` keeps its null-date rows."""
    return os.path.join(
        zone.root, zone.name, f"_epoch={epoch_id}", f"order_date={_NULL_PARTITION}"
    )


def _pending_before(
    spark: SparkSession, zone: _Zone, schema: StructType, epoch_id: int
) -> DataFrame:
    """The pending set the newest committed epoch before ``epoch_id``
    landed in ``zone``."""
    older = [e for e in committed_epochs(zone.root, zone.name) if e < epoch_id]
    path = _pending_dir(zone, max(older, default=-1))
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def _landed_dates(zone: _Zone, epoch_id: int) -> set[str]:
    """Non-null ``order_date`` values epoch ``epoch_id`` landed in
    ``zone``, from its partition directory names."""
    path = os.path.join(zone.root, zone.name, f"_epoch={epoch_id}")
    if not os.path.isdir(path):
        return set()
    return {
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("order_date=") and d != f"order_date={_NULL_PARTITION}"
    }


def _csv_stream(spark: SparkSession, schema, path: str) -> DataFrame:
    """File-source stream over a reference-shaped CSV upload dir."""
    return (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .option("maxFilesPerTrigger", 64)
        .csv(path)
    )


# --- epoch manifest: the commit-log half of an ACID table format -------
#
# Every streamed zone (the event pipeline's landed zone, and every
# model / corpus zone) is exactly-once at WRITE time with no new
# dependency (ROADMAP r5 #1) — Structured Streaming's end-to-end
# guarantee needs a replayable source plus an idempotent sink, and the
# epoch commit is that sink:
#
# * every micro-batch lands as its own `_epoch=<id>` partition under
#   the bucketed table (directory partitions under the buckets);
# * after the append returns, the epoch id is committed by writing a
#   marker file and os.rename-ing it into the manifest directory —
#   rename is atomic on POSIX and on HDFS; on S3 the same role is
#   played by a conditional PUT (documented seam, not needed here);
# * foreachBatch replay of a COMMITTED epoch is a no-op (idempotent);
#   replay of an UNCOMMITTED epoch (crash between append and commit)
#   first deletes that epoch's orphan partition directory, then
#   re-appends — the partition dir scopes exactly the files the failed
#   attempt produced, which a bare bucketed append cannot say;
# * readers drop uncommitted epochs by partition pruning; in steady
#   state there are none and the read is a plain bucketed-table scan —
#   zero per-read dedup work.


def _manifest_dir(zone_dir: str, name: str) -> str:
    return os.path.join(zone_dir, "_manifest", name)


def committed_epochs(zone_dir: str, name: str) -> set[int]:
    """Epoch ids whose append fully landed (marker present)."""
    d = _manifest_dir(zone_dir, name)
    if not os.path.isdir(d):
        return set()
    return {
        int(f[: -len(".json")])
        for f in os.listdir(d)
        if f.endswith(".json")
    }


def _commit_epoch(zone_dir: str, name: str, epoch_id: int, n_rows: int) -> None:
    """Default commit primitive: write the marker beside the manifest
    dir, then rename it in — rename is atomic on POSIX and HDFS, so
    readers either see the complete marker or none.

    This is the ONE seam a different storage system swaps: an object
    store without atomic rename (S3) commits the same marker with a
    conditional PUT (`If-None-Match: *` — first writer wins, the
    semantics the rename gives here), or records the epoch in a
    transactional side table. Pass a replacement as ``commit_fn`` to
    :func:`_land_epoch`; the contract is: durably
    publish (name, epoch_id) exactly once, visible to
    :func:`committed_epochs` afterwards, never partially.
    """
    import json

    d = _manifest_dir(zone_dir, name)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f"._{epoch_id}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch": epoch_id, "rows": n_rows}, f)
    os.rename(tmp, os.path.join(d, f"{epoch_id}.json"))


def _parse_describe_location(rows) -> str | None:
    """Pull the ``Location`` value out of ``DESCRIBE FORMATTED`` rows.

    Factored out of :func:`_table_location` so the parse is unit-
    testable against malformed rows (VERDICT r12 #5 — the last
    silent-degradation site in the streaming layer): a row missing
    ``col_name``/``data_type``, or carrying None where a string is
    expected, is SKIPPED with a debug note instead of either raising
    mid-land or silently falling through — and a present-but-None
    Location value is treated as absent."""
    for row in rows:
        try:
            name = row.col_name
            value = row.data_type
        except AttributeError:
            _log.debug(
                "DESCRIBE FORMATTED row without col_name/data_type "
                "fields skipped: %r", row,
            )
            continue
        if (name or "").strip() == "Location":
            if not isinstance(value, str):
                _log.debug(
                    "DESCRIBE FORMATTED Location row carries non-string "
                    "value %r — treating the location as unresolvable",
                    value,
                )
                return None
            return value.removeprefix("file:")
    return None


def _table_location(spark: SparkSession, table: str) -> str | None:
    """Filesystem path a catalog table's data lives at (compaction
    re-points tables at fresh directories, so zone paths must be
    resolved through the catalog, never assumed)."""
    return _parse_describe_location(
        spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    )


def _on_disk_epochs(path: str) -> set[int]:
    """Epoch partition directories present under a zone table path."""
    if not os.path.isdir(path):
        return set()
    out = set()
    for entry in os.listdir(path):
        if entry.startswith("_epoch="):
            try:
                out.add(int(entry.split("=", 1)[1]))
            except ValueError:
                # a directory that LOOKS like an epoch partition but
                # carries a non-integer id is never one Spark wrote —
                # note it rather than silently treating it as absent
                _log.debug(
                    "ignoring non-integer _epoch partition dir %r "
                    "under %s", entry, path,
                )
    return out


@dataclass(frozen=True)
class _Zone:
    """One streamed manifest zone: catalog ``table`` first created at
    ``root/name``, epochs committed under ``root/_manifest/name``,
    bucketed ``n_buckets`` ways on ``bucket_col``. With ``table`` None
    the zone is addressed by path alone: plain parquet at
    ``root/name``, with no catalog entry and no buckets; an epoch
    writes one file per input split and partition directory.

    ``partition_cols`` nest further partition directories UNDER the
    ``_epoch`` partition (e.g. ``("cluster_id",)`` for the
    inverted-list zones, so a probe join dynamic-partition-prunes to
    the probed cells' files). ``_epoch`` stays outermost so the
    crash-orphan scrub and the manifest's epoch pruning are untouched.

    ``fold`` is how the zone compacts: the zone reader's own merge or
    generation filter, applied to the committed epochs' union (None
    when the epochs hold disjoint rows).
    """

    name: str
    table: str | None
    root: str
    n_buckets: int = 0
    bucket_col: str = ""
    partition_cols: tuple[str, ...] = ()
    fold: Callable[[DataFrame], DataFrame] | None = None

    def committed(self, epoch_id: int) -> bool:
        return epoch_id in committed_epochs(self.root, self.name)


def _land_epoch(
    spark: SparkSession,
    df: DataFrame,
    zone: _Zone,
    epoch_id: int,
    commit_fn=None,
) -> None:
    """Idempotent, crash-safe landing of one micro-batch epoch.

    ``root/name`` is only the location for the CREATE on the
    first-ever append; once the table exists its catalog location is
    authoritative (compaction re-points it at a fresh directory).
    """
    if zone.committed(epoch_id):
        return  # checkpoint replay of a fully-landed epoch: no-op
    path = os.path.join(zone.root, zone.name)
    exists = zone.table is not None and spark.catalog.tableExists(zone.table)
    loc = (_table_location(spark, zone.table) or path) if exists else path
    orphan = os.path.join(loc, f"_epoch={epoch_id}")
    if os.path.isdir(orphan):
        # crash between append and commit: scrub the failed attempt's
        # files (the partition dir scopes them exactly), then retry
        shutil.rmtree(orphan)
        if exists:
            spark.catalog.refreshTable(zone.table)
    staged = df.withColumn("_epoch", F.lit(epoch_id))
    if zone.table is None:
        staged.write.partitionBy("_epoch", *zone.partition_cols).mode(
            "append"
        ).parquet(path)
        n_rows = _parquet_rows(orphan)
    else:
        # align tasks with the bucket spec before writing (same Murmur3
        # pmod as bucketBy): each of the n_buckets tasks then emits ONE
        # file per partition dir it touches, so an epoch costs
        # n_buckets × |dirs| files instead of |input splits| × |dirs| —
        # the small-files bound the soak test asserts
        staged = staged.repartition(zone.n_buckets, F.col(zone.bucket_col))
        writer = (
            staged.write.format("parquet")
            .partitionBy("_epoch", *zone.partition_cols)
            .bucketBy(zone.n_buckets, zone.bucket_col)
            .sortBy(zone.bucket_col)
        )
        if not exists:
            writer = writer.option("path", path)
        writer.mode("append").saveAsTable(zone.table)
        spark.catalog.refreshTable(zone.table)
        n_rows = spark.table(zone.table).filter(F.col("_epoch") == epoch_id).count()
    (commit_fn or _commit_epoch)(zone.root, zone.name, epoch_id, n_rows)


def _parquet_rows(path: str) -> int:
    """Rows of the parquet files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _run_epochs(
    spark: SparkSession,
    stream: DataFrame,
    checkpoint_dir: str,
    zones: Sequence[_Zone],
    body: Callable[[DataFrame, int], None],
    compact_every: int | None = None,
):
    """THE epoch loop of every streamed zone: drive ``stream`` through
    ``foreachBatch`` until its available input is processed, calling
    ``body(batch, epoch_id)`` once per micro-batch, and return the
    terminated query.

    * An epoch that every zone in ``zones`` has committed is a
      checkpoint replay of a fully-landed epoch and is skipped. A
      zone-less stream is never skipped: its sink must be idempotent
      by itself, and a body that lands zones of its own relies on
      :func:`_land_epoch` skipping each committed one (the event
      pipeline, whose KPI upsert must run on every replay).
    * After the body, each zone whose committed epoch count reached
      ``compact_every`` folds back to ONE epoch
      (:func:`compact_manifest_zone` with the zone's ``fold``), in
      ``zones`` order — land order, aux zones before the primary, so a
      fold interrupted between zones still leaves every aux row inside
      the primary's epoch set. The fold runs after the epoch fully
      commits: a crash in the fold window replays as an already-landed
      epoch and the fold waits for the next trigger. VACUUM stays an
      operator action (:func:`vacuum_manifest_zone` — its retention
      guard must not run inside a live writer).
    """

    def run(batch: DataFrame, epoch_id: int) -> None:
        if zones and all(z.committed(epoch_id) for z in zones):
            return
        body(batch, epoch_id)
        for z in zones:
            # folding resets the zone to one committed epoch
            if compact_every and (
                len(committed_epochs(z.root, z.name)) >= compact_every
            ):
                compact_manifest_zone(
                    spark, z.table, z.root, z.name,
                    n_buckets=z.n_buckets, bucket_col=z.bucket_col,
                    transform=z.fold, extra_partition_cols=z.partition_cols,
                )

    q = (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


KMEANS_MODEL_DIR = "kmeans_model"
PQ_MODEL_DIR = "pq_model"
IVFPQ_MODEL_DIR = "ivfpq_model"
IVF_MODEL_DIR = "ivf_model"
BINARY_MODEL_DIR = "binary_model"
BPE_MODEL_DIR = "bpe_model"
MODEL_META_FILE = "_model_meta.json"

# the fixed shapes of the streamed gates (every deployment uses these)
PRICE_SCHEMA = "l_linestatus string, l_extendedprice double"
PRICE_GROUP_COL = "l_linestatus"
PRICE_VALUE_COL = "l_extendedprice"
IVF_ITERATIONS = 2
DECONTAMINATE_N = 5
CLUSTER_K = 4
CLUSTER_ITERATIONS = 3


def _read_model_meta(zone_dir: str, model_dir: str) -> dict | None:
    """Meta of any generation-tracked model zone (the ``*_MODEL_DIR``
    names above), or None when no model has been fit yet."""
    import json

    p = os.path.join(zone_dir, model_dir, MODEL_META_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_model_meta(zone_dir: str, model_dir: str, meta: dict) -> None:
    """tmp+rename, same atomicity as the epoch commit markers."""
    import io
    import json
    import tempfile

    d = os.path.join(zone_dir, model_dir)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with io.open(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, MODEL_META_FILE))


def _model_gen_dir(
    zone_dir: str, model_dir: str, gen: int | None
) -> str | None:
    """The landed directory of a model generation (default: the
    current one per the meta), or None when no model exists yet."""
    if gen is None:
        meta = _read_model_meta(zone_dir, model_dir)
        if meta is None:
            return None
        gen = meta["gen"]
    p = os.path.join(zone_dir, model_dir, f"gen={gen}")
    return p if os.path.isdir(p) else None


def _mean_dist(encoded: DataFrame) -> float | None:
    """Deterministic mean of an encode's per-row ``dist`` (decimal-
    summed over the already det-round-8 distances) — the drift
    statistic of every distance-scored model gate. One scalar
    aggregate; bounded driver transfer."""
    row = encoded.agg(
        (
            F.sum(F.col("dist").cast("decimal(28,12)"))
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("m")
    ).collect()[0]
    return None if row["m"] is None else float(row["m"])


@dataclass(frozen=True)
class _ModelGate:
    """The per-gate pieces :func:`_run_model_gate` drives.

    * ``fit(fit_input, gen, gdir)`` learns generation ``gen``, lands
      the model under ``gdir`` and returns the fit-time encode of
      ``fit_input`` (lazy; the lifecycle persists it). Each fit is a
      deterministic function of its input, which is what makes every
      crash window replay to the identical model.
    * ``encode(batch, gen)`` encodes a batch against the LANDED
      generation ``gen`` (what serving reads, never an in-memory
      sibling).
    * ``refit_input(batch)`` is what a gen ≥ 1 fit learns from: the
      committed corpus plus the in-flight batch.
    * ``rows(batch, out, gen)`` is what lands in ``zone`` this epoch.
    * ``statistic`` maps an encode to the drift statistic; the meta
      records its fit-time value under ``stat_key``.
    """

    zone: _Zone
    model_dir: str
    fit: Callable[[DataFrame, int, str], DataFrame]
    encode: Callable[[DataFrame, int], DataFrame]
    refit_input: Callable[[DataFrame], DataFrame]
    rows: Callable[[DataFrame, DataFrame, int], DataFrame]
    empty_schema: str
    meta_params: dict
    statistic: Callable[[DataFrame], float | None] = _mean_dist
    stat_key: str = "fit_mean_dist"


def _run_model_gate(
    spark: SparkSession,
    gate: _ModelGate,
    batch: DataFrame,
    epoch_id: int,
    drift_refit_factor: float | None,
) -> None:
    """The ONE fit / encode / drift / refit / land lifecycle of every
    streaming model gate (PQ, binary, IVFPQ, IVF, k-means, BPE), run
    once per epoch:

    * first non-empty epoch FITS gen 0 on the batch (an empty epoch
      before any model lands an empty frame; the next one fits);
    * later epochs ENCODE the batch against the landed model — no
      refit in the steady state, committed rows are never re-encoded;
    * when the batch's statistic exceeds ``drift_refit_factor ×`` the
      model's fit-time value, the model REFITS gen+1 over
      ``refit_input`` and that full re-encode lands in this epoch —
      the zone readers filter to the current generation, so the swap
      is atomic at the meta write;
    * the epoch lands with the generation that produced it (the code
      and assignment zones tag every row with ``model_gen``; the BPE
      counts zone lands its counts whatever the decision).

    Crash discipline: the model lands under its gen dir and the meta
    (with ``fit_epoch``, for replay-stable refit decisions) commits
    BEFORE the zone epoch. A replay of a committed epoch is a no-op;
    a replay whose meta names this epoch (meta committed, zone epoch
    not) redoes the recorded fit rather than re-deciding it.

    One encode pass per epoch (optimization r17, guide §1.2): the
    statistic and the landing both consume the encode, so it is
    persisted once (micro-batch-bounded rows) and released after the
    land — streams are long-lived."""
    if gate.zone.committed(epoch_id):
        return  # replayed, fully landed
    zone_dir = gate.zone.root

    def fit(fit_input: DataFrame, gen: int) -> DataFrame:
        gdir = os.path.join(zone_dir, gate.model_dir, f"gen={gen}")
        out = gate.fit(fit_input, gen, gdir).persist()
        _write_model_meta(
            zone_dir,
            gate.model_dir,
            {
                "gen": gen,
                gate.stat_key: gate.statistic(out),
                "fit_epoch": epoch_id,
                **gate.meta_params,
            },
        )
        return out

    meta = _read_model_meta(zone_dir, gate.model_dir)
    if meta is not None and meta.get("fit_epoch") == epoch_id:
        # crash window: the (re)fit's meta committed but the zone
        # epoch didn't — redo the recorded decision
        gen = meta["gen"]
        out = fit(batch if gen == 0 else gate.refit_input(batch), gen)
    elif meta is None:
        if batch.isEmpty():
            # no model yet; the next non-empty epoch fits
            gen = -1
            out = spark.createDataFrame([], gate.empty_schema)
        else:
            gen = 0
            out = fit(batch, gen)
    else:
        gen = meta["gen"]
        out = gate.encode(batch, gen).persist()
        bm = gate.statistic(out)
        fit_stat = meta.get(gate.stat_key)
        if (
            drift_refit_factor is not None
            and bm is not None
            and fit_stat is not None
            and bm > drift_refit_factor * fit_stat
        ):
            out.unpersist()  # the refit replaces the batch encode
            gen += 1
            out = fit(gate.refit_input(batch), gen)
    _land_epoch(spark, gate.rows(batch, out, gen), gate.zone, epoch_id)
    out.unpersist()


# the reader-side merges of the mergeable-state zones: each reader folds
# its committed epochs with one of these, and compaction applies the
# SAME fold, so a compacted zone is reader-identical by construction
def _sum_cells(df: DataFrame) -> DataFrame:
    return df.groupBy("row_i", "col").agg(
        F.sum("cell").cast("long").alias("cell")
    )


def _max_registers(df: DataFrame) -> DataFrame:
    return df.groupBy("r_idx").agg(F.max("rho").cast("long").alias("rho"))


def _sum_word_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("word").agg(F.sum("n").cast("long").alias("n"))


def _sum_price_hist(df: DataFrame) -> DataFrame:
    return df.groupBy(PRICE_GROUP_COL, "_c").agg(
        F.sum("_cnt").cast("long").alias("_cnt")
    )


def _fit_sample(stride: int, cb_stride: int) -> Column:
    """The IVFPQ fit diet as an id predicate
    (:func:`operators.similarity.ivfpq_model`'s strided sampling): the
    ids an IVFPQ-only store-once zone retains raw and re-encodes on
    every refit."""
    return (F.col("vec_id") % stride == 0) | (F.col("vec_id") % cb_stride == 0)


def _accretes(meta: dict) -> bool:
    """Whether the model's generations ACCRETE in its zone: the model
    meta records it (the IVFPQ-only store-once deployment writes
    ``retained_sample: true``); a meta without the key is a
    full-re-encode model."""
    return bool(meta.get("retained_sample"))


def _live_rows(
    df: DataFrame, meta: dict, *, clamp: bool
) -> tuple[int, Column]:
    """THE live-row rule of a generation-tracked model zone ``df``
    under its model ``meta``: returns ``(serving generation, keep
    predicate)``. Every reader, the compaction fold, the freshness
    report and the IVF store-once refit source decide liveness here.

    * A full-re-encode zone (every drift refit re-lands the whole
      corpus under the new generation) serves ``model_gen == gen``,
      the meta's generation.
    * An accreting zone (:func:`_accretes`: a refit re-encodes only the
      retained fit sample ∪ its batch) serves the zone-clamped
      generation ``g = min(meta gen, max landed model_gen)``: sample
      ids (:func:`_fit_sample`) at ``g``, non-sample ids — encoded
      exactly once — at any generation ≤ ``g``. Both arms are plain
      filters, so scans keep predicate pushdown and cluster_id DPP (a
      per-vector ``max(model_gen)`` window would block both). The clamp
      keeps the sample ids' newest encode live through a refit's crash
      window (meta at gen+1, its epoch not landed); it costs one
      bounded column-stats MAX.

    ``clamp=True`` zone-clamps a full-re-encode zone too — the refit
    source's pick of the newest LANDED generation, which inside a
    crash window is still the whole committed corpus."""
    gen = int(meta["gen"])
    accretes = _accretes(meta)
    if accretes or clamp:
        gmax = df.agg(F.max("model_gen")).collect()[0][0]
        if gmax is not None:
            gen = min(gen, int(gmax))
    live = F.col("model_gen") == gen
    if accretes:
        live = live | (
            ~_fit_sample(meta["stride"], meta["cb_stride"])
            & (F.col("model_gen") <= gen)
        )
    return gen, live


def _live_generation(
    zone_dir: str, model_dir: str
) -> Callable[[DataFrame], DataFrame]:
    """The fold of a generation-tracked model zone: keep exactly the
    rows its reader serves (:func:`_live_rows`). The meta is read when
    the fold runs, i.e. at compaction time.

    Raises, before anything is written, when the zone has rows but
    none at its serving generation: a full-re-encode zone inside a
    refit's crash window (meta at gen+1, the gen+1 epoch not landed).
    Folding then would delete every committed row — in the IVF
    store-once deployment the only copy of the corpus."""

    def fold(df: DataFrame) -> DataFrame:
        meta = _read_model_meta(zone_dir, model_dir)
        if meta is None:
            raise ValueError(
                f"no model meta under {model_dir!r} — nothing to compact"
            )
        gen, live = _live_rows(df, meta, clamp=False)
        if df.filter(live).isEmpty() and not df.isEmpty():
            raise ValueError(
                f"the zone keyed off {model_dir!r} holds rows but none "
                f"at its serving generation {gen}: the model meta "
                f"names a refit whose epoch has not landed. Replay the "
                f"stream to land it, then compact."
            )
        return df.filter(live)

    return fold


def _read_live(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str,
    model_dir: str,
    schema: str,
) -> DataFrame:
    """What a model-zone reader serves: the committed rows of zone
    ``name`` that :func:`_live_rows` keeps, projected to ``schema``'s
    columns — plus ``model_gen`` in an accreting zone, whose serve
    scores each row against its own generation's model. An empty
    ``schema`` frame before the first model lands."""
    meta = _read_model_meta(zone_dir, model_dir)
    if meta is None:
        return spark.createDataFrame([], schema)
    df = read_manifest_zone(spark, {name: table}, zone_dir)[name]
    cols = [field.split()[0] for field in schema.split(",")]
    if _accretes(meta):
        cols.append("model_gen")
    return df.filter(_live_rows(df, meta, clamp=False)[1]).select(*cols)


def read_kmeans_centroids(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> DataFrame | None:
    """The landed centroid table for a model generation (default: the
    current one per the model meta), or None when no model exists."""
    p = _model_gen_dir(zone_dir, KMEANS_MODEL_DIR, gen)
    return None if p is None else spark.read.parquet(p)


def read_cluster_assignment(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Current-generation cluster assignment from the streamed zone:
    manifest-pruned epochs, filtered to the CURRENT model generation —
    a drift refit re-lands the full corpus assignment under the new
    generation in its own epoch, so the filter sees exactly one live
    row per doc (older-generation rows are dead weight until
    compaction, the same trade as superseded data generations in
    ``vacuum_manifest_zone``)."""
    return _read_live(
        spark, table, zone_dir, "cluster_assignment", KMEANS_MODEL_DIR,
        "doc_id long, cluster_id long, dist double",
    )


def read_cms_cells(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """The corpus Count-Min cell table from the streamed zone: cells
    are sums, so the manifest-pruned epoch union folds with one
    groupBy-sum — bit-exact vs the batch
    ``text.cms_cells_from_term_counts`` over the same corpus
    (integer addition is associative; replay-parity-tested)."""
    return _sum_cells(
        read_manifest_zone(spark, {"cms_cells": table}, zone_dir)[
            "cms_cells"
        ]
    )


def read_hll_registers(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """The corpus HLL register table from the streamed zone: registers
    are MAXes, so the manifest-pruned epoch union folds with one
    groupBy-max — bit-exact vs the batch
    ``text.hll_registers_from_terms`` over the same corpus (max is
    associative/commutative/idempotent, so replay CAN'T even
    double-count; the CMS cells' sum-merge needs the manifest for
    that, the registers get it for free)."""
    return _max_registers(
        read_manifest_zone(spark, {"hll_registers": table}, zone_dir)[
            "hll_registers"
        ]
    )


def compact_hll_registers(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str = "hll_registers",
    n_buckets: int = 8,
) -> str:
    """:func:`compact_cms_cells` for the register zone — epochs fold
    by groupBy-MAX at compaction time (the reader's own merge), so the
    zone collapses to ≤ 2^p rows and one epoch no matter how many
    ingest waves accumulated."""
    return compact_manifest_zone(
        spark, table, zone_dir, name,
        n_buckets=n_buckets, bucket_col="r_idx", transform=_max_registers,
    )


def run_price_histogram_ingest(
    spark: SparkSession,
    raw_dir: str,
    zone_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    table_prefix: str = "price_",
) -> dict[str, str]:
    """Streaming maintenance for the EXACT-quantile tier (VERDICT r11
    #4 — the third mergeable-sketch zone beside CMS cells and HLL
    registers, except this one is exact): each arriving micro-batch
    folds into a per-epoch cents histogram ``(group, _c, _cnt)``
    (``olap_deep.price_histogram`` — integer counts over integer
    cents, the 2-dp money domain, so NOTHING is approximated) landed
    through the atomic ``_epoch`` manifest. Counts are SUMS, so
    :func:`read_price_histogram`'s groupBy-sum over committed epochs
    IS the corpus histogram, bit-exact vs the batch single-pass build
    — and ``price_quantiles_from_histogram`` over it returns exactly
    the batch quartiles. The state is bounded by the price domain
    (≤ a few million distinct cents), independent of how many rows or
    epochs ever streamed; :func:`compact_price_histogram` pre-folds
    accumulated epochs back to that bound.

    At 100 TB this is the O(arrivals) quantile-maintenance path: each
    wave shuffles its own (group, cents) partials, never re-reads the
    corpus, and serving reads the folded histogram — the exact
    formulation that replaced the 23.6 s/18M-row per-group sort in
    the batch tier (BASELINE.md ×30 line)."""
    from ..operators.olap_deep import price_histogram

    zone = _Zone(
        "price_hist", f"{table_prefix}price_hist", zone_dir, n_buckets, "_c",
        fold=_sum_price_hist,
    )
    _run_epochs(
        spark,
        spark.readStream.schema(PRICE_SCHEMA).parquet(raw_dir),
        checkpoint_dir,
        [zone],
        lambda batch, epoch_id: _land_epoch(
            spark,
            price_histogram(batch, PRICE_GROUP_COL, PRICE_VALUE_COL),
            zone,
            epoch_id,
        ),
    )
    return {zone.name: zone.table}


def read_price_histogram(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """The corpus cents histogram from the streamed zone: per-epoch
    counts are integer SUMS, so the manifest-pruned epoch union folds
    with one groupBy-sum — bit-exact vs the batch
    ``olap_deep.price_histogram`` over the same rows (and therefore
    the quartiles computed from it are bit-exact too)."""
    return _sum_price_hist(
        read_manifest_zone(spark, {"price_hist": table}, zone_dir)[
            "price_hist"
        ]
    )


def compact_price_histogram(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str = "price_hist",
    n_buckets: int = 8,
) -> str:
    """:func:`compact_cms_cells` for the histogram zone — epochs fold
    by groupBy-SUM at compaction time (the reader's own merge), so
    the zone collapses to the price-domain bound and one epoch no
    matter how many ingest waves accumulated."""
    return compact_manifest_zone(
        spark, table, zone_dir, name,
        n_buckets=n_buckets, bucket_col="_c", transform=_sum_price_hist,
    )


def read_bpe_word_counts(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """The corpus weighted word-type table ``(word, n)`` from the
    streamed zone: per-epoch counts are integer SUMS (the CMS-cell
    merge law), so the manifest-pruned epoch union folds with one
    groupBy-sum — bit-exact vs the batch derivation
    (``term_state.groupBy(term).sum(tf)`` under the ``[a-z0-9]+``
    filter) over the same corpus. |vocab| rows (Heaps-sublinear), the
    state BPE refits from WITHOUT re-scanning text."""
    return _sum_word_counts(
        read_manifest_zone(spark, {"bpe_word_counts": table}, zone_dir)[
            "bpe_word_counts"
        ]
    )


def compact_bpe_word_counts(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str = "bpe_word_counts",
    n_buckets: int = 8,
) -> str:
    """:func:`compact_cms_cells` for the word-count zone — epochs
    fold by groupBy-SUM at compaction time (the reader's own merge),
    collapsing the zone to |vocab| rows and one epoch no matter how
    many ingest waves accumulated."""
    return compact_manifest_zone(
        spark, table, zone_dir, name,
        n_buckets=n_buckets, bucket_col="word", transform=_sum_word_counts,
    )


def read_bpe_model(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """The landed BPE tokenizer model ``(merge_table, vocab_final)``
    for a model generation (default: the current one per the model
    meta), or None when no model exists yet. ``merge_table`` is the
    learned ``(merge_rank, sym_left, sym_right, merged, pair_count)``
    rows; ``vocab_final`` is the fully-merged symbol-sequence state
    ``(seq, n)`` the tokenize/apply operators
    (``bpe_doc_token_count_from_vocab`` /
    ``bpe_subword_stats_from_vocab``) serve from."""
    gdir = _model_gen_dir(zone_dir, BPE_MODEL_DIR, gen)
    if gdir is None:
        return None
    return (
        spark.read.parquet(os.path.join(gdir, "merge_table")),
        spark.read.parquet(os.path.join(gdir, "vocab_final")),
    )


def compact_cms_cells(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str = "cms_cells",
    n_buckets: int = 8,
) -> str:
    """Fold the streamed Count-Min cell epochs into ONE pre-summed
    epoch (VERDICT r10 #8): :func:`read_cms_cells` groupBy-sums every
    committed epoch on every read, so an unboundedly-ingesting stream
    grows read cost linearly with epoch count even though the MERGED
    state is ≤ d×w rows forever. Cells are integer sums, so summing at
    compaction time is exactly the reader's own fold — the compacted
    zone is bit-identical under ``read_cms_cells`` (test-gated) while
    the read drops to one ≤ d×w-row scan. Future epochs land above
    ``max(committed)`` as usual and merge with the folded row set."""
    return compact_manifest_zone(
        spark, table, zone_dir, name,
        n_buckets=n_buckets, bucket_col="col", transform=_sum_cells,
    )


def compact_model_zone(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str,
    model_dir: str,
    n_buckets: int = 8,
    bucket_col: str = "vec_id",
    extra_partition_cols: tuple[str, ...] = (),
) -> str:
    """Compact a generation-tracked model-state zone table
    (``cluster_assignment`` / ``pq_codes`` / ``binary_codes`` /
    ``ivfpq_codes`` / ``ivf_assign``) to exactly the rows its reader
    serves and one epoch — reader-identical by construction, since the
    fold IS the readers' live-row rule (:func:`_live_rows`).
    ``model_dir`` names the meta dir the table's generations key off
    (KMEANS_MODEL_DIR / PQ_MODEL_DIR / BINARY_MODEL_DIR /
    IVFPQ_MODEL_DIR / IVF_MODEL_DIR).

    The model meta records which rows are live. In a full-re-encode
    zone every drift refit re-lands the FULL corpus under a new
    ``model_gen``, so the superseded generations are dead rows the
    scan still pays for until compaction. In the IVFPQ-only store-once
    zone (meta ``retained_sample: true``) generations ACCRETE: only
    the sample ids' superseded encodes drop, and ``model_gen`` survives
    as a column (the multi-gen serve scores each row against its own
    generation's model).

    Compaction refuses, writing nothing, when the zone has rows but
    none at its serving generation — a full-re-encode zone inside a
    refit's crash window (meta at gen+1, the gen+1 epoch not landed).
    Replay the stream first: in the IVF store-once deployment
    (``ivf=True, store_flat_embeddings=False``) ``ivf_assign`` is the
    only copy of the corpus, and the replayed refit reads it."""
    return compact_manifest_zone(
        spark, table, zone_dir, name,
        n_buckets=n_buckets, bucket_col=bucket_col,
        transform=_live_generation(zone_dir, model_dir),
        extra_partition_cols=extra_partition_cols,
    )


def read_pq_codebook(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> DataFrame | None:
    """The landed PQ codebook ``(s, j, cw)`` for a model generation
    (default: the current one per the model meta), or None when no
    model exists yet."""
    p = _model_gen_dir(zone_dir, PQ_MODEL_DIR, gen)
    return None if p is None else spark.read.parquet(p)


def read_pq_codes(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Current-generation PQ codes from the streamed zone: manifest-
    pruned epochs, filtered to the CURRENT model generation — a drift
    refit re-encodes the full corpus under the new generation in its
    own epoch, so the filter sees exactly one live (vec_id, s) row
    per vector (the read_cluster_assignment discipline; older-gen
    rows are dead weight until compaction)."""
    return _read_live(
        spark, table, zone_dir, "pq_codes", PQ_MODEL_DIR,
        "vec_id long, s long, code long",
    )


def read_binary_thresholds(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> DataFrame | None:
    """The landed binary-quantization thresholds ``(dim_idx,
    threshold)`` for a model generation (default: current per the
    meta), or None when no model exists yet."""
    p = _model_gen_dir(zone_dir, BINARY_MODEL_DIR, gen)
    return None if p is None else spark.read.parquet(p)


def read_binary_codes(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Current-generation binary codes from the streamed zone:
    manifest-pruned epochs filtered to the CURRENT model generation
    (the read_pq_codes discipline — a drift refit re-encodes the full
    corpus under the new generation in its own epoch, so exactly one
    live row per vector survives the filter)."""
    return _read_live(
        spark, table, zone_dir, "binary_codes", BINARY_MODEL_DIR,
        "vec_id long, code_lo long, code_hi long",
    )


def read_ivf_centroids(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> DataFrame | None:
    """The landed trained-IVF coarse quantizer ``(cid, centroid_vec)``
    for a model generation (default: current per the meta), or None
    when no model exists yet."""
    p = _model_gen_dir(zone_dir, IVF_MODEL_DIR, gen)
    return None if p is None else spark.read.parquet(p)


def read_ivf_assign(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Current-generation IVF cell membership from the streamed zone,
    generation-filtered like every model-zone reader here. Membership
    is the SEARCH metric's (cosine argmax, lowest-cid ties —
    ``similarity.ivf_list_assign``, the rule ``ivf_topk`` itself
    assigns with); ``dist`` is the squared-L2 distortion to the
    assigned centroid, kept scale-SENSITIVE on purpose so the drift
    gate can see magnitude shifts cosine is blind to."""
    return _read_live(
        spark, table, zone_dir, "ivf_assign", IVF_MODEL_DIR,
        "vec_id long, cluster_id long, dist double",
    )


def read_ivf_lists(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Current-generation inverted LISTS from the streamed zone —
    ``(vec_id, cluster_id, embedding)``, the IVF-Flat serving surface
    for ``ivf_topk(lists=...)``. The zone lands partitioned by
    ``cluster_id``, so the serving plan's probe join dynamic-
    partition-prunes this scan to the probed cells' files: top-k
    reads n_probe/n_clusters of the corpus bytes and never rescans
    the embeddings table (plan-asserted in
    tests/test_ivf_winnowing.py)."""
    lists = _read_live(
        spark, table, zone_dir, "ivf_assign", IVF_MODEL_DIR,
        "vec_id long, cluster_id long, embedding array<double>",
    )
    # a float-stored zone (float32 ingest) promotes back to double —
    # exact (float→double is lossless), so serving and refit values
    # are bit-identical to a double-stored zone (where the cast is a
    # no-op the optimizer drops)
    return lists.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def read_ivfpq_model(
    spark: SparkSession, zone_dir: str, gen: int | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """The landed IVFPQ model ``(centroids, codebook)`` for a model
    generation (default: the current one per the model meta), or None
    when no model exists yet."""
    gdir = _model_gen_dir(zone_dir, IVFPQ_MODEL_DIR, gen)
    if gdir is None:
        return None
    return (
        spark.read.parquet(os.path.join(gdir, "centroids")),
        spark.read.parquet(os.path.join(gdir, "codebook")),
    )


def read_ivfpq_codes(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """Live IVFPQ codes from the streamed zone —
    :func:`read_pq_codes` with the cell id alongside (the probe join
    key the ADC scan prunes on).

    The model meta records the deployment, and the rows served follow
    it (:func:`_live_rows`). A flat deployment re-encodes the full
    corpus on every refit, so the current generation is served. The
    IVFPQ-only store-once deployment (``run_embedding_ingest(
    store_flat_embeddings=False, ivfpq=True, ivf=False)``, meta
    ``retained_sample: true``) ACCRETES generations: a refit re-encodes
    only the retained fit sample ∪ its batch, so sample ids serve at
    the zone-clamped current generation and non-sample ids at the
    generation they arrived under. Such a zone returns ``model_gen``
    alongside, so the multi-gen serve (:func:`ivfpq_topk_streamed`)
    can score each row against its own generation's model."""
    return _read_live(
        spark, table, zone_dir, "ivfpq_codes", IVFPQ_MODEL_DIR,
        "vec_id long, cluster_id long, s long, code long",
    )


def read_fit_sample(
    spark: SparkSession, table: str, zone_dir: str
) -> DataFrame:
    """The retained strided fit diet of an IVFPQ-only store-once zone
    — ``(vec_id, embedding)`` raw rows, manifest-pruned. This is the
    drift-refit's committed-vector source and the ONLY raw vectors the
    deployment keeps (sized corpus/stride + corpus/cb_stride ≈ 6.7% at
    the 29/31 defaults, vs 100% for the flat zone or the IVF lists)."""
    return read_manifest_zone(spark, {"fit_sample": table}, zone_dir)[
        "fit_sample"
    ].select("vec_id", "embedding")


def _load_ivfpq_multigen(
    spark: SparkSession, table: str, zone_dir: str
):
    """The store-once serve's model state: ``(meta, codes_g, cents_g,
    cb_g)`` with every table carrying a ``gen`` column (codes via
    :func:`read_ivfpq_codes`; centroids/codebooks unioned per live
    generation), or None when no model/generations have landed.
    The model-loading half of :func:`ivfpq_topk_streamed`."""
    from ..operators.similarity import _coarse_centroids

    meta = _read_model_meta(zone_dir, IVFPQ_MODEL_DIR)
    if meta is None:
        return None
    codes = read_ivfpq_codes(spark, table, zone_dir)
    gens = sorted(
        r["model_gen"]
        for r in codes.select("model_gen").distinct().collect()
        if r["model_gen"] is not None and r["model_gen"] >= 0
    )
    if not gens:
        return None
    cents_parts, cb_parts = [], []
    for g in gens:
        model = read_ivfpq_model(spark, zone_dir, g)
        if model is None:
            raise ValueError(
                f"ivfpq codes landed under gen {g} but no model dir "
                f"exists for it — zone and model dirs are out of sync"
            )
        cent, cb = model
        cents_parts.append(
            _coarse_centroids(cent).withColumn(
                "gen", F.lit(g).cast("long")
            )
        )
        cb_parts.append(cb.withColumn("gen", F.lit(g).cast("long")))
    cents_g = cents_parts[0]
    for c in cents_parts[1:]:
        cents_g = cents_g.unionByName(c)
    cb_g = cb_parts[0]
    for c in cb_parts[1:]:
        cb_g = cb_g.unionByName(c)
    return meta, codes.withColumnRenamed("model_gen", "gen"), cents_g, cb_g


def ivfpq_topk_streamed(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-generation ADC top-k over an IVFPQ-only store-once zone.

    The zone's model meta records that its generations accrete (see
    :func:`read_ivfpq_codes`), so one query must score codes encoded
    under DIFFERENT models: each generation's rows against that
    generation's own coarse centroids + residual codebook. The serve
    is ONE generation-as-data plan (:func:`operators.similarity.
    _ivfpq_scores_multigen`, VERDICT r13 #2): the per-generation
    centroid/codebook tables union with a ``gen`` column (k·G and
    m·k·G rows — broadcast-sized), every model-side LUT and scoring
    join gains ``gen`` as a key, the query-side subspace explode is
    computed once and shared, and ONE DPP-pruned codes scan serves all
    generations before one global rank — so the top-k is exact over
    the union corpus and BIT-IDENTICAL to scoring each generation with
    its own :func:`_ivfpq_scores` chain (every (query, vector) decimal
    group is unchanged; the dual-chain oracle hash-gates it). Model
    geometry (n_subspaces, dim) comes from the model meta; the
    generation list is the zone's distinct ``model_gen`` — a bounded
    driver collect (one row per generation ever landed).

    Scale shape: ONE probe window over |q|·k·G rows + ONE DPP-pruned
    codes scan + broadcast LUT joins keyed by gen. The zone bytes read
    stay Σ_g |probed cells of gen g| — the same I/O floor the
    per-generation loop paid — while the per-generation PLAN constant
    (measured ~1.2 s/gen at ×10, linear to 8.9 s at 7 live gens for
    the loop: BASELINE.md, "Round-14 store-once serve vs generation
    count") collapses to one plan's worth.

    A mixed batch is served whole: DPP admits the union of its probed
    (gen, cell) partitions in one scan. Splitting it into probe-affine
    groups after it arrived read 2.07× the union's bytes and took
    longer (BASELINE.md, round-15 affine router); keep batches
    cell-affine upstream (:func:`operators.similarity.
    cell_affine_groups`) instead."""
    from ..operators.similarity import _ivfpq_scores_multigen
    from ..operators.similarity import det_round as _det_round

    loaded = _load_ivfpq_multigen(spark, table, zone_dir)
    if loaded is None:
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, sim_rank long, "
            "cosine_sim double",
        )
    meta, codes_g, cents_g, cb_g = loaded
    from pyspark.sql import Window

    sim = _ivfpq_scores_multigen(
        queries,
        cents_g,
        cb_g,
        codes_g,
        n_probe=n_probe,
        n_subspaces=meta["n_subspaces"],
        dim=meta["dim"],
        id_col=id_col,
        vec_col=vec_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            _det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def ivfpq_rerank_topk_streamed(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    queries: DataFrame,
    flat_table: str | None = None,
    shortlist: int = 20,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shortlist → EXACT rerank served from a live streaming zone —
    and the ENFORCED seam of the store-once × rerank deployment rule
    (VERDICT r14 #3, decided by measurement):

    **store-once = ADC-only serving; rerank requires
    ``store_flat_embeddings=True``.** The IVFPQ-only deployment keeps
    codes + the ~6.7% strided fit diet and nothing else, and the best
    rerank that corpus can run (exact-score the shortlist candidates
    that happen to be sample ids, ADC for the rest) was measured at
    sf0.1/shortlist 80: recall@10 0.050 vs 0.216 for the flat-zone
    rerank (ADC-only floor 0.040) — ~7% of the refine tier's lift, so
    sample-rerank is NOT offered and a missing flat zone fails loudly
    here instead of silently serving ADC-grade results under a rerank
    name (scripts/bench_rerank.py ``rerank_sample_s*`` rows;
    BASELINE.md).

    With a flat deployment (``run_embedding_ingest(
    store_flat_embeddings=True)``), the ADC stage serves the landed
    model + CURRENT-generation codes through the flat deployment's own
    reader (:func:`read_ivfpq_codes`: the flat zone's meta records a
    full re-encode, so only the current generation serves), and the
    refine stage broadcasts the |q|·shortlist id set against ONE pass
    over the landed flat zone — the corpus is never crossed, same shape as
    :func:`operators.similarity.ivfpq_rerank_topk`."""
    from ..operators.similarity import as_double, cosine, ivfpq_topk
    from ..operators.similarity import det_round as _det_round

    if flat_table is None or not spark.catalog.tableExists(flat_table):
        raise ValueError(
            "rerank requires the flat embeddings zone — the IVFPQ-only "
            "store-once deployment (store_flat_embeddings=False) is "
            "ADC-only serving: reranking against its retained ~6.7% "
            "fit sample was measured at ~7% of the flat-zone rerank's "
            "recall lift (scripts/bench_rerank.py), so it is not "
            "offered. Ingest with store_flat_embeddings=True and pass "
            "flat_table, or serve ivfpq_topk_streamed directly."
        )
    model = read_ivfpq_model(spark, zone_dir)
    if model is None:
        raise ValueError(
            f"no landed IVFPQ model under {zone_dir} — run the "
            f"embedding ingest with ivfpq=True first"
        )
    cent, cb = model
    codes = read_ivfpq_codes(spark, table, zone_dir)
    flat = read_manifest_zone(
        spark, {"embeddings": flat_table}, zone_dir
    )["embeddings"]
    short = ivfpq_topk(
        flat, queries, k=shortlist, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
        centroids=cent, codebook=cb, codes=codes,
    ).select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("adc_sim")
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    scored = (
        flat.select(
            F.col(id_col).cast("long").alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
        .join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_sim",
            cosine(F.col("qvec"), F.col("cvec")).alias("_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn(
            "sim_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            _det_round(F.col("_sim"), 6).alias("cosine_sim"),
            "adc_sim",
        )
    )


def run_embedding_ingest(
    spark: SparkSession,
    raw_dir: str,
    zone_dir: str,
    checkpoint_dir: str,
    schema: str = "vec_id long, embedding array<float>",
    pq: bool = True,
    ivfpq: bool = False,
    ivf: bool = False,
    binary: bool = False,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    stride: int = 29,
    n_clusters: int = 16,
    cb_stride: int = 31,
    drift_refit_factor: float | None = 2.0,
    n_buckets: int = 8,
    table_prefix: str = "emb_",
    store_flat_embeddings: bool = True,
    auto_compact_every: int | None = None,
) -> dict[str, str]:
    """Streaming ingest for the EMBEDDINGS side of the house with a
    maintained product-quantization model (VERDICT r10 #1): the batch
    ``_pq_model_zone`` is a session-scoped land, so a corpus that
    grows via ingest would re-fit from scratch — this gate (built on
    the r10 cluster-assignment template) keeps the landed PQ model
    CURRENT as vectors arrive:

    * first non-empty epoch FITS (gen 0): ``pq_codebook`` over the
      batch (the strided n_codes-sample — deterministic by id, so a
      single-batch delivery reproduces the batch-build codebook
      bit-exactly), codebook + meta land in the zone's model dir
      BEFORE the codes epoch — the kmeans-gate crash discipline: a
      crash in any window replays to the identical model;
    * later epochs ENCODE arrivals against the LANDED codebook
      (``pq_encode`` — one broadcast of m·k codebook rows, a ×m
      explode and a struct-min argmin per vector; no refit in the
      steady state, and committed vectors are never re-encoded);
    * when an epoch's deterministic mean encode distortion (decimal-
      summed det-round-8 squared-L2, the same ``_mean_dist`` shape as
      the cluster gate) exceeds ``drift_refit_factor ×`` the model's
      fit-time distortion, the codebook REFITS over the full
      committed corpus plus the batch (gen+1) and the full
      re-encode lands in that epoch — :func:`read_pq_codes` filters
      to the current generation, so the swap is atomic at the meta
      write.

    ``ivfpq`` adds the IVFADC twin under the same discipline: gen-0
    fits the coarse quantizer (strided cells) AND the shared residual
    codebook on the first non-empty epoch (both land under the gen
    dir, meta commits before the codes epoch); later epochs coarse-
    assign + residual-encode arrivals against the LANDED model
    (``ivfpq_model(centroids=…, codebook=…)`` — two broadcast-sized
    model tables, no refit); residual-distortion drift refits over
    committed + batch. Serve via :func:`read_ivfpq_model` +
    :func:`read_ivfpq_codes` → ``ivfpq_topk(codes=…)``.

    ``binary`` adds the 1-bit twin under the same discipline: gen-0
    fits the per-dim binarization thresholds (det-round-6
    decimal-exact means — bit-identical to the batch
    ``binary_thresholds`` over the same corpus) on the first
    non-empty epoch and lands the d-row threshold table (meta before
    codes, the crash discipline); later epochs encode arrivals
    against the LANDED thresholds into two 32-bit words per vector
    (the 24 B/vector Hamming serving scan); mean-L1-deviation drift
    refits over committed + batch. Serve via
    :func:`read_binary_thresholds` + :func:`read_binary_codes` →
    ``binary_topk(thresholds=…, codes=…)``.

    ``ivf`` adds the TRAINED coarse quantizer (the `_ivf_model_zone`
    batch land's streaming twin, closing the last ANN model zone):
    gen-0 runs the deterministic Lloyd fit (``kmeans_fixed(k=
    n_clusters, iterations=IVF_ITERATIONS)``) on the first non-empty
    epoch and lands the k-row centroid table; every epoch files its
    arrivals into INVERTED LISTS (``similarity.ivf_list_assign`` —
    cosine membership, the search metric's rule, with the vector
    alongside) landed per epoch as ``ivf_assign`` PARTITIONED BY
    ``cluster_id``; the squared-L2 distortion to the assigned
    centroid drives drift refits over committed + batch. Serve via
    :func:`read_ivf_centroids` + :func:`read_ivf_lists` →
    ``ivf_topk(centroids=…, lists=…)`` — the probe join
    file-prunes the lists scan, no embeddings rescan.

    Land order: ``pq_codes``/``ivfpq_codes``/``ivf_assign`` commit
    BEFORE ``embeddings`` each epoch, so an embeddings-committed
    epoch implies its codes landed (the aux-before-primary rule every
    gate here follows).

    ``store_flat_embeddings=False`` is the STORE-ONCE knob (requires
    ``ivf=True`` or ``ivfpq=True``): the flat ``embeddings`` zone is
    not landed at all. With ``ivf=True`` the ``ivf_assign`` inverted
    lists already hold every vector (that IS IVF-Flat's storage
    layout), so the corpus lives on disk once instead of twice, and
    drift refits source their committed vectors from the lists zone's
    newest landed generation (resolved from the ZONE, not the meta, so
    a crash between a refit's meta commit and its epoch land still
    replays the fit over the full committed corpus). At 100 TB this
    halves the vector footprint for an IVF-Flat deployment; keep the
    default when the flat zone is the corpus of record for other
    consumers.

    ``store_flat_embeddings=False, ivfpq=True, ivf=False, pq=False``
    is the IVFPQ-ONLY store-once deployment (VERDICT r12 #3): the
    corpus lives as 64×-compressed codes plus a tiny ``fit_sample``
    side zone retaining exactly the raw vectors the model fits ever
    touch — ids with ``vec_id % stride == 0`` or ``% cb_stride == 0``,
    the deterministic strided fit diet of both the coarse quantizer
    and the residual codebook (:func:`operators.similarity.
    ivfpq_model`'s own sampling rule). Because the fit diet is a pure
    id predicate, a drift refit over (retained sample ∪ batch)
    produces the BIT-IDENTICAL model a full-corpus refit would — the
    strided filter of both inputs selects the same rows — so model
    quality is unchanged while the footprint drops to codes + sample.
    What a refit can NOT do here is re-encode vectors whose raw form
    was never retained, so generations accrete instead of superseding:
    the refit epoch re-encodes (sample ∪ batch) under gen+1, committed
    non-sample codes stay live at their original generation, and
    serving is multi-generation — the model meta records
    ``retained_sample: true``, and :func:`read_ivfpq_codes` then
    resolves each vector's newest encode BY PREDICATE (sample ids live
    only at the current gen; non-sample ids are encoded exactly once),
    keeping the scan filter-pushdown- and DPP-prunable, and
    :func:`ivfpq_topk_streamed` unions per-generation ADC scores
    before one global rank. The fit-time
    ``fit_mean_dist`` baseline in this mode is measured over the
    retained diet ∪ batch (the full corpus's raw distortion is
    unobservable without its raw vectors), so later drift decisions
    track the sample's distortion — document-equivalent at the default
    strides, but not bit-identical to the flat twin's baseline.
    ``pq=True`` is rejected in this configuration: a PQ drift refit
    re-encodes the full corpus, which needs a raw-vector source (the
    flat zone or the IVF lists).

    DEPLOYMENT RULE (r15, decided by measurement): **store-once =
    ADC-only serving; the refine tier requires
    ``store_flat_embeddings=True``.** Exact rerank needs flat vectors
    for every shortlist candidate, and reranking against just the
    retained ~6.7% fit diet recovers ~7% of the flat rerank's recall
    lift at sf0.1 and ZERO at ×30 (scripts/bench_rerank.py
    ``rerank_sample_s*``; BASELINE.md "store-once × rerank") — so
    :func:`ivfpq_rerank_topk_streamed` refuses a zone without a flat
    table rather than offering sample-rerank.

    The IVF lists' on-disk vector column follows the declared ingest
    schema: ``array<float>`` when the ``embedding`` element type is
    float, ``array<double>`` otherwise. Float storage is LOSSLESS for
    float32 input (float→double is exact, so the double the assignment
    computed round-trips through float32 bit-exactly); the reader
    promotes back to double and every serve/refit value is
    bit-identical to a double-stored zone (test-gated), at about half
    the lists' vector bytes — at 100 TB the lists ARE the corpus in
    the IVF store-once deployment.

    ``auto_compact_every=N`` folds each landed zone back to ONE epoch
    whenever its committed epoch count reaches N (r14 — the measured
    rule: at 20 epochs the store-once serve pays ~2.3 s of pure
    epoch-layout overhead vs the folded twin, and a compaction costs
    ~one serve; BASELINE.md, "Round-14 store-once serve vs epoch
    count"). The fold is the live-row rule of
    :func:`compact_model_zone` for the code zones (the model meta says
    whether generations accrete) and a plain fold for the
    fit_sample/embeddings zones — reader-identical by construction;
    the manifest resets to one marker so the trigger
    self-resets, and the fold runs only after the epoch fully commits
    (:func:`_run_epochs`).

    At 100 TB: the model dir holds m·k rows per generation (64 at
    defaults — driver/broadcast-safe by construction), per-epoch work
    is O(batch·m) rows of shuffle, and the serving scan
    (:func:`read_pq_codes` → ``pq_topk(codes=...)``) reads m small
    ints per corpus vector — the 64×-narrower ADC path — with zero
    embedding scans after ingest.

    Returns ``{zone name: catalog table}``.
    """
    from ..operators.ml import kmeans_fixed
    from ..operators.similarity import (
        as_double,
        binary_encode,
        binary_thresholds,
        ivf_list_assign,
        ivfpq_model,
        pq_codebook,
        pq_encode,
    )

    if not store_flat_embeddings and not ivf and not ivfpq:
        raise ValueError(
            "store_flat_embeddings=False requires ivf=True or "
            "ivfpq=True — PQ codes alone are compressed beyond "
            "recovery, so refits would have no committed-vector source"
        )
    if auto_compact_every is not None and auto_compact_every < 1:
        raise ValueError(
            f"auto_compact_every must be >= 1 or None, got "
            f"{auto_compact_every!r}"
        )
    # the IVFPQ-only store-once deployment: codes + retained fit diet
    retain_fit_sample = not store_flat_embeddings and ivfpq and not ivf
    if retain_fit_sample and (pq or binary):
        raise ValueError(
            "store_flat_embeddings=False with ivfpq=True and ivf=False "
            "cannot also serve a PQ or binary zone: their drift refits "
            "re-encode the full corpus, which needs a raw-vector "
            "source (the flat zone or the IVF lists) — pass pq=False/"
            "binary=False, or enable ivf=True / "
            "store_flat_embeddings=True"
        )

    stream = spark.readStream.schema(schema).parquet(raw_dir)
    # float32 lists storage is lossless exactly when the arriving
    # vectors are float32
    float_lists = (
        stream.schema["embedding"].dataType.simpleString() == "array<float>"
    )

    def zone(zname, model_dir=None, partition_cols=()) -> _Zone:
        """A code zone (``model_dir`` set) folds to its live rows."""
        return _Zone(
            zname, f"{table_prefix}{zname}", zone_dir, n_buckets, "vec_id",
            partition_cols,
            model_dir and _live_generation(zone_dir, model_dir),
        )

    # land order: every code zone commits before the fit sample / flat
    # embeddings zone. The inverted-list zones' rows carry the vector
    # (IVF) or codes (IVFPQ) and the layout carries the cell, so the
    # serving plans' codes/lists ⋈ broadcast(probes) join reads only
    # the probed cells' files (DPP)
    zones: dict[str, _Zone] = {}
    if pq:
        zones["pq_codes"] = zone("pq_codes", PQ_MODEL_DIR)
    if binary:
        zones["binary_codes"] = zone("binary_codes", BINARY_MODEL_DIR)
    if ivfpq:
        zones["ivfpq_codes"] = zone(
            "ivfpq_codes", IVFPQ_MODEL_DIR, partition_cols=("cluster_id",)
        )
    if ivf:
        zones["ivf_assign"] = zone(
            "ivf_assign", IVF_MODEL_DIR, partition_cols=("cluster_id",)
        )
    if retain_fit_sample:
        zones["fit_sample"] = zone("fit_sample")
    if store_flat_embeddings:
        zones["embeddings"] = zone("embeddings")

    def _committed_vectors() -> DataFrame | None:
        if store_flat_embeddings:
            z = zones["embeddings"]
        elif retain_fit_sample:
            # IVFPQ-only store-once: the retained strided fit diet is
            # the refit's committed-vector source. It lands LAST each
            # epoch (the flat zone's slot), so it never contains the
            # in-flight batch — the union below stays duplicate-free.
            z = zones["fit_sample"]
        else:
            z = zones["ivf_assign"]
        if not spark.catalog.tableExists(z.table):
            return None
        df = read_manifest_zone(spark, {z.name: z.table}, zone_dir)[z.name]
        if z.name == "ivf_assign":
            # store-once mode: the inverted lists ARE the corpus. Use
            # the newest generation landed IN THE ZONE, not the meta's
            # — in a refit's crash window (meta committed, codes epoch
            # not) the meta already names the new gen, which has no
            # rows yet; the zone's newest landed gen is always the full
            # committed corpus.
            meta = _read_model_meta(zone_dir, IVF_MODEL_DIR)
            df = df.filter(_live_rows(df, meta, clamp=True)[1])
        return df.select("vec_id", "embedding")

    def _with_committed(vecs: DataFrame) -> DataFrame:
        """The PQ / binary / IVFPQ / IVF refit input: the full
        committed corpus plus the in-flight batch."""
        committed = _committed_vectors()
        return vecs if committed is None else committed.unionByName(vecs)

    def _tagged(*cols: str):
        """Gate rows of a code zone: the encode's ``cols`` tagged with
        the generation that produced them."""
        return lambda _batch, out, gen: out.select(*cols).withColumn(
            "model_gen", F.lit(gen)
        )

    pq_params = {
        "n_subspaces": n_subspaces,
        "n_codes": n_codes,
        "dim": dim,
        "stride": stride,
    }

    def _pq_fit(vecs: DataFrame, gen: int, gdir: str) -> DataFrame:
        pq_codebook(vecs, **pq_params).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gdir)
        return _pq_encode(vecs, gen)

    def _pq_encode(vecs: DataFrame, gen: int) -> DataFrame:
        return pq_encode(
            vecs, read_pq_codebook(spark, zone_dir, gen),
            n_subspaces=n_subspaces, dim=dim, return_dist=True,
        )

    def _binary_fit(vecs: DataFrame, gen: int, gdir: str) -> DataFrame:
        binary_thresholds(vecs).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gdir)
        return _binary_encode(vecs, gen)

    def _binary_encode(vecs: DataFrame, gen: int) -> DataFrame:
        return binary_encode(
            vecs, read_binary_thresholds(spark, zone_dir, gen),
            dim=dim, return_dist=True,
        )

    ivfpq_params = {
        "n_clusters": n_clusters, **pq_params, "cb_stride": cb_stride,
    }

    def _ivfpq_fit(vecs: DataFrame, gen: int, gdir: str) -> DataFrame:
        cent, cb, _ = ivfpq_model(vecs, **ivfpq_params)
        cent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(gdir, "centroids")
        )
        cb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(gdir, "codebook")
        )
        return _ivfpq_encode(vecs, gen)

    def _ivfpq_encode(vecs: DataFrame, gen: int) -> DataFrame:
        cent, cb = read_ivfpq_model(spark, zone_dir, gen)
        return ivfpq_model(
            vecs, **ivfpq_params, centroids=cent, codebook=cb,
            return_dist=True,
        )[2]

    def _ivf_vecs(vecs: DataFrame) -> DataFrame:
        """(vec_id, embedding-as-double) — the exact input shape the
        batch `_ivf_model_zone` build fits on, so gen-0 centroids are
        bit-identical to the session-scoped land."""
        return vecs.select(
            F.col("vec_id"),
            as_double(F.col("embedding")).alias("embedding"),
        )

    def _ivf_fit(vecs: DataFrame, gen: int, gdir: str) -> DataFrame:
        kmeans_fixed(
            _ivf_vecs(vecs), k=n_clusters, iterations=IVF_ITERATIONS,
            dim=dim, id_col="vec_id", vec_col="embedding",
            return_centroids=True,
        ).coalesce(1).write.mode("overwrite").parquet(gdir)
        return _ivf_encode(vecs, gen)

    def _ivf_encode(vecs: DataFrame, gen: int) -> DataFrame:
        """Search-metric inverted-list rows for a batch of vectors —
        :func:`ivf_list_assign` with the drift-gate distortion column:
        cosine membership (bit-identical to the serving plan's own
        corpus assignment), the vector alongside (what IVF-Flat lists
        store), and the scale-sensitive squared-L2 ``dist``."""
        return ivf_list_assign(
            _ivf_vecs(vecs), read_ivf_centroids(spark, zone_dir, gen),
            id_col="vec_id", vec_col="embedding", with_dist=True,
        )

    def _ivf_rows(_vecs, lists: DataFrame, gen: int) -> DataFrame:
        if float_lists:
            # lossless for float32 input; the reader promotes back to
            # double
            lists = lists.withColumn(
                "embedding", F.col("embedding").cast("array<float>")
            )
        return lists.withColumn("model_gen", F.lit(gen))

    # gate order = land order
    gates: list[_ModelGate] = []
    if pq:
        gates.append(_ModelGate(
            zones["pq_codes"], PQ_MODEL_DIR, _pq_fit, _pq_encode,
            _with_committed, rows=_tagged("vec_id", "s", "code"),
            empty_schema="vec_id long, s long, code long, dist double",
            meta_params=pq_params,
        ))
    if binary:
        gates.append(_ModelGate(
            zones["binary_codes"], BINARY_MODEL_DIR, _binary_fit,
            _binary_encode, _with_committed,
            rows=_tagged("vec_id", "code_lo", "code_hi"),
            empty_schema=(
                "vec_id long, code_lo long, code_hi long, dist double"
            ),
            meta_params={"dim": dim},
        ))
    if ivfpq:
        gates.append(_ModelGate(
            zones["ivfpq_codes"], IVFPQ_MODEL_DIR, _ivfpq_fit,
            _ivfpq_encode, _with_committed,
            rows=_tagged("vec_id", "cluster_id", "s", "code"),
            empty_schema=(
                "vec_id long, cluster_id long, s long, code long, "
                "dist double"
            ),
            meta_params=dict(ivfpq_params, retained_sample=retain_fit_sample),
        ))
    if ivf:
        gates.append(_ModelGate(
            zones["ivf_assign"], IVF_MODEL_DIR, _ivf_fit, _ivf_encode,
            _with_committed, rows=_ivf_rows,
            empty_schema=(
                "vec_id long, cluster_id long, dist double, "
                "embedding array<double>"
            ),
            meta_params={
                "k": n_clusters, "iterations": IVF_ITERATIONS, "dim": dim,
            },
        ))

    def land(batch_df: DataFrame, epoch_id: int) -> None:
        vecs = batch_df.select("vec_id", "embedding")
        for gate in gates:
            _run_model_gate(spark, gate, vecs, epoch_id, drift_refit_factor)
        if retain_fit_sample:
            # the strided fit diet, raw — a pure function of the
            # batch, landed AFTER the codes (aux-before-primary is
            # codes-before-sample here: a sample-committed epoch
            # implies its codes landed; the reverse crash window
            # replays and re-lands only the sample, idempotently)
            _land_epoch(
                spark,
                batch_df.filter(_fit_sample(stride, cb_stride)).select(
                    "vec_id", "embedding"
                ),
                zones["fit_sample"],
                epoch_id,
            )
        if store_flat_embeddings:
            _land_epoch(spark, batch_df, zones["embeddings"], epoch_id)

    _run_epochs(
        spark, stream, checkpoint_dir, list(zones.values()), land,
        auto_compact_every,
    )
    return {n: z.table for n, z in zones.items()}


def stream_zone_freshness(
    spark: SparkSession,
    zone_dir: str,
    zones: dict[str, tuple],
) -> DataFrame:
    """Operational freshness report over streamed manifest zones
    (VERDICT r12 #7 — the dashboard a production deployment pages on):
    one row per zone, built from the zone's commit MARKERS, its model
    META, and a count-only scan of the zone itself.

    ``zones`` maps zone name → ``(catalog table, model_dir or None)``
    — pass the model dir (IVF_MODEL_DIR / IVFPQ_MODEL_DIR /
    PQ_MODEL_DIR / KMEANS_MODEL_DIR) for generation-tracked zones,
    None for plain zones like the flat embeddings corpus. Live/dead
    and the serving generation come from the readers' own live-row
    rule (:func:`_live_rows`), and the model meta records which rule
    applies. In the IVFPQ-only store-once codes zone (meta
    ``retained_sample: true``, ADVICE r13 #1) generations ACCRETE:
    older-generation non-sample rows are live — the reader SERVES
    them — under the zone-clamped serving generation, and
    ``dead_epochs`` is 0 by definition (no epoch is ever wholly
    superseded when non-sample rows stay live).

    Columns: ``zone``, ``n_epochs`` / ``last_epoch`` /
    ``committed_rows`` (from the manifest markers alone),
    ``model_gen`` / ``fit_epoch`` (the SERVING generation — zone-
    clamped in an accreting zone — and the epoch of its fit, i.e. the
    last drift refit, from the model meta; -1 where no model), ``live_rows`` / ``dead_rows`` (the
    zone's rows the generation-filtered reader serves vs the
    superseded rows compaction would reclaim — a count-only scan of
    the generation column), and ``dead_epochs`` (epochs wholly
    superseded by the last full-re-encode refit: every epoch before
    ``fit_epoch``; meaningful for the full-re-encode zones, 0 for
    plain and accreting zones).

    A zone that has not landed yet degrades gracefully (ADVICE r13
    #3) instead of raising: an absent manifest dir or missing catalog
    table reports the same sentinels an empty one does — ``n_epochs``
    / ``committed_rows`` / ``live_rows`` / ``dead_rows`` /
    ``dead_epochs`` 0, ``last_epoch`` -1 — so the dashboard is
    well-formed from the first page load, before the first epoch
    commits.

    A model-tracked zone whose TABLE carries no ``model_gen`` column
    (the BPE word-count / CMS-cell shape: generations live in the
    model dir, the zone rows are generation-independent folded state)
    reports every committed row live and ``dead_epochs`` 0, while
    ``model_gen`` / ``fit_epoch`` still come from the meta — so every
    gate's zone fits one dashboard call.

    Dead-generation BYTES are deliberately not a column: manifests
    don't carry file sizes and parquet bytes are a filesystem fact the
    cross-engine oracle cannot reproduce — the rows are the
    compactor's reclaim estimate; byte measurements live in the bench
    scripts. Meta reads are driver-side single-JSON-file reads (the
    same bounded order as the k-row centroid collects); everything
    row-scaled stays a DataFrame aggregation."""
    out: DataFrame | None = None
    for name in sorted(zones):
        table, model_dir = zones[name]
        if model_dir is None:
            meta, gen, fit_epoch = None, -1, -1
        else:
            meta = _read_model_meta(zone_dir, model_dir)
            gen = -1 if meta is None else meta["gen"]
            fit_epoch = -1 if meta is None else meta.get("fit_epoch", -1)
        zdf = (
            read_manifest_zone(spark, {name: table}, zone_dir)[name]
            if spark.catalog.tableExists(table)
            else None
        )
        # a model zone whose rows carry their generation keeps what its
        # reader serves; every other zone keeps every committed row —
        # plain zones, and counts-shaped model zones (no model_gen
        # column: BPE word counts, CMS cells), whose rows are
        # generation-independent folded state
        gen_rows = (
            meta is not None and zdf is not None
            and "model_gen" in zdf.columns
        )
        live_pred = F.lit(True)
        if gen_rows:
            gen, live_pred = _live_rows(zdf, meta, clamp=False)
        # the directory, not a *.json glob: Spark's file index already
        # skips the dot-prefixed in-flight marker tmps, and a glob
        # path makes the reader probe it for stream metadata (noisy
        # FileNotFoundException WARNs on every call)
        mdir = _manifest_dir(zone_dir, name)
        if os.path.isdir(mdir):
            markers = spark.read.schema("epoch long, rows long").json(
                mdir
            )
        else:
            markers = spark.createDataFrame([], "epoch long, rows long")
        # epochs are wholly superseded ONLY by a full-re-encode refit:
        # an accreting zone keeps old non-sample rows live
        dead_epoch_pred = (
            F.col("epoch") < fit_epoch
            if gen_rows and not _accretes(meta)
            else F.lit(False)
        )
        m = markers.agg(
            F.count(F.lit(1)).alias("n_epochs"),
            F.coalesce(F.max("epoch"), F.lit(-1)).alias("last_epoch"),
            F.coalesce(F.sum("rows"), F.lit(0)).alias("committed_rows"),
            F.coalesce(
                F.sum(
                    F.when(dead_epoch_pred, F.lit(1)).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("dead_epochs"),
        )
        if zdf is None:
            z = spark.createDataFrame(
                [(0, 0)], "live_rows long, dead_rows long"
            )
        else:
            z = zdf.agg(
                F.coalesce(
                    F.sum(
                        F.when(live_pred, F.lit(1)).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).cast("long").alias("live_rows"),
                F.coalesce(
                    F.sum(
                        F.when(~live_pred, F.lit(1)).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).cast("long").alias("dead_rows"),
            )
        # two one-row aggregates attach with a cross join — the
        # bounded-broadcast shape every stat-attach in the engine uses
        row = m.crossJoin(z).select(
            F.lit(name).alias("zone"),
            F.col("n_epochs").cast("long").alias("n_epochs"),
            F.col("last_epoch").cast("long").alias("last_epoch"),
            F.col("committed_rows").cast("long").alias("committed_rows"),
            F.lit(gen).cast("long").alias("model_gen"),
            F.lit(fit_epoch).cast("long").alias("fit_epoch"),
            F.col("live_rows").cast("long").alias("live_rows"),
            F.col("dead_rows").cast("long").alias("dead_rows"),
            F.col("dead_epochs").cast("long").alias("dead_epochs"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("stream_zone_freshness needs at least one zone")
    return out


def compact_manifest_zone(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str,
    n_buckets: int = 32,
    bucket_col: str = "order_id",
    transform=None,
    extra_partition_cols: tuple[str, ...] = (),
) -> str:
    """Fold a manifest zone table's accumulated epoch partitions into
    ONE (the catalog zones that :func:`run_embedding_ingest` and
    :func:`run_corpus_ingest` land through :func:`_land_epoch`) — the
    small-files maintenance an epoch-per-append zone eventually
    needs: every epoch lands ``n_buckets`` new files, and a bucket
    holding hundreds of epoch files pays per-file open/footer
    cost and a per-file sort-merge on every read. Only COMMITTED
    epochs are read (a crash orphan is dropped by the rewrite instead
    of lingering), and the manifest is reset to a single marker
    afterwards.

    The compacted data keeps the epoch id ``max(committed)``: stream
    epoch ids are the checkpoint's monotonically increasing batch ids,
    so every future append lands strictly above it and the
    skip-if-committed guard stays correct across compactions.

    The rewrite lands beside the old directory and the catalog name is
    swapped last, by DROP + RENAME; if the RENAME fails, the old table
    is re-registered from its on-disk files so the name never dangles.
    The catalog swap and the manifest-directory reset are each atomic,
    but not jointly: this is a single-writer, no-concurrent-reader
    maintenance operation — run it from the maintenance job, not
    beside a live reader. The old directory is left for
    :func:`vacuum_manifest_zone` to reap. The rewrite
    reads through the catalog and writes with the same partition-by-
    epoch-under-bucket spec, so it is a per-bucket read-sort-write and
    downstream joins stay Exchange-free. Returns the new data dir.

    ``extra_partition_cols`` must repeat whatever the zone's
    ``_land_epoch`` calls used (e.g. ``("cluster_id",)`` on the
    inverted-list zones) — the rewrite re-lands with the SAME nested
    layout, so the dynamic-partition-pruning file layout survives
    compaction.

    ``transform``, if given, is applied to the epoch-stripped union
    before the rewrite — the seam for zone tables whose epochs are
    MERGEABLE STATE rather than disjoint rows (the streamed Count-Min
    cells fold with a groupBy-sum, collapsing the zone to ≤ d×w rows
    no matter how many epochs accumulated; see
    :func:`compact_cms_cells`). The transform must be semantics-
    preserving under the table's reader, which stays unchanged.
    """
    import shutil
    import uuid

    committed = committed_epochs(zone_dir, name)
    if not committed:
        raise ValueError(f"nothing committed for zone table {name!r}")
    keep_epoch = max(committed)
    df = read_manifest_zone(spark, {name: table}, zone_dir)[name].drop(
        "_epoch"
    )
    if transform is not None:
        df = transform(df)
    df = df.withColumn("_epoch", F.lit(keep_epoch))
    # task/bucket alignment (the small-files point of compacting):
    # the repartition collapses transformed inputs back to one task
    # per bucket, and on an untransformed bucketed scan Catalyst
    # elides it as redundant — but autoBucketedScan would then ALSO
    # drop the bucketed read ("no operator exploits it") and the
    # rewrite's |input splits| tasks would each emit a file per
    # partition dir, multiplying files instead of folding them. Pin
    # the bucketed scan on for the rewrite action.
    df = df.repartition(n_buckets, F.col(bucket_col))
    new_dir = os.path.join(zone_dir, f"{name}_compact_{uuid.uuid4().hex[:8]}")
    tmp_table = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        (
            df.write.format("parquet")
            .partitionBy("_epoch", *extra_partition_cols)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", new_dir)
            .mode("overwrite")
            .saveAsTable(tmp_table)
        )
    finally:
        spark.conf.set(auto_key, prev_auto)
    n_rows = spark.table(tmp_table).count()
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        spark.sql(f"ALTER TABLE {tmp_table} RENAME TO {table}")
    except Exception:
        spark.catalog.createTable(
            table, path=os.path.join(zone_dir, name), source="parquet"
        )
        raise
    # reset the manifest to exactly the surviving epoch (marker write
    # is atomic per file; the rmtree+rewrite window is covered by the
    # single-writer contract above)
    shutil.rmtree(_manifest_dir(zone_dir, name), ignore_errors=True)
    _commit_epoch(zone_dir, name, keep_epoch, n_rows)
    return new_dir


def vacuum_manifest_zone(
    spark: SparkSession,
    table: str,
    zone_dir: str,
    name: str,
    min_age_seconds: float = 24 * 3600,
) -> dict[str, list[str]]:
    """Reclaim a manifest zone's dead files — the VACUUM half of the
    commit log (Delta/Iceberg's retention-guarded file reaper), closing
    the loop :func:`compact_manifest_zone` leaves open on purpose (it
    never deletes the old directory). Reaps, under one retention guard:

    * **crash-orphan epochs** — on-disk ``_epoch=`` directories with no
      commit marker. Readers already partition-prune them
      (:func:`read_manifest_zone`), so they cost a driver-side listing
      per read and disk forever; after reaping, reads are back to the
      zero-cost steady state.
    * **superseded data directories** — previous ``{name}_compact_*``
      generations, and the original pre-compaction ``{name}`` directory
      once the catalog points elsewhere. These hold the snapshots
      ``as_of_epoch`` can no longer reach anyway (compaction truncates
      history), so only dead weight is removed.

    ``min_age_seconds`` (default 24 h) is the same defense Delta's
    VACUUM retention window provides: an in-flight epoch being written
    by a LIVE stream looks exactly like a crash orphan until its marker
    lands, so only directories older than the guard are touched — pass
    0 only when the writer is provably stopped (maintenance window).
    Returns ``{"orphan_epochs": [...], "stale_dirs": [...]}`` of
    reaped paths. Never touches the manifest directory itself or the
    current table location; catalog state is never modified, so a
    concurrent reader of the CURRENT snapshot is unaffected (readers of
    pre-compaction snapshots lost them at compaction time, not here).

    Safety preconditions (ADVICE r6): deletion decisions key entirely
    off the CATALOG location, so if ``DESCRIBE FORMATTED`` cannot
    resolve one, the reaper raises instead of guessing — a fallback to
    ``zone_dir/name`` would, after a compaction re-pointed the table
    at a ``{name}_compact_*`` dir, treat the LIVE directory as a
    superseded generation and delete the current snapshot. And the
    superseded-generation glob matches only the compactor's exact
    ``_compact_<8 hex>`` suffix, so a caller-named sibling zone table
    that happens to start with ``{name}_compact_`` is never touched.
    """
    import glob
    import re
    import shutil
    import time

    resolved = _table_location(spark, table)
    if resolved is None:
        raise ValueError(
            f"vacuum_manifest_zone: catalog location for table "
            f"{table!r} could not be resolved; refusing to reap "
            f"(a zone_dir/name fallback could delete the live "
            f"post-compaction snapshot)"
        )
    loc = os.path.abspath(resolved)
    committed = committed_epochs(zone_dir, name)
    now = time.time()
    reaped: dict[str, list[str]] = {"orphan_epochs": [], "stale_dirs": []}

    def old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_age_seconds
        except OSError:
            return False

    for e in sorted(_on_disk_epochs(loc) - committed):
        p = os.path.join(loc, f"_epoch={e}")
        if old_enough(p):
            shutil.rmtree(p, ignore_errors=True)
            reaped["orphan_epochs"].append(p)

    generation = re.compile(
        re.escape(name) + r"_compact_[0-9a-f]{8}"
    )  # exactly what compact_manifest_zone emits (uuid4 hex[:8])
    candidates = [
        d
        for d in glob.glob(os.path.join(zone_dir, f"{name}_compact_*"))
        if generation.fullmatch(os.path.basename(d))
    ]
    original = os.path.join(zone_dir, name)
    if os.path.isdir(original):
        candidates.append(original)
    for d in candidates:
        d_abs = os.path.abspath(d)
        if d_abs != loc and old_enough(d_abs):
            shutil.rmtree(d_abs, ignore_errors=True)
            reaped["stale_dirs"].append(d_abs)
    return reaped


def read_manifest_zone(
    spark: SparkSession,
    tables: dict[str, str],
    zone_dir: str,
    as_of_epoch: int | None = None,
) -> dict[str, DataFrame]:
    """Exactly-once read of a manifest zone (one that
    :func:`_land_epoch` commits), at ZERO steady-state cost.

    Uncommitted (orphan) epochs exist only in the window between a
    crash mid-epoch and its replay; they are detected by a driver-side
    directory listing (O(#epochs), no data touched). When there are
    none — the steady state — the table is returned as-is: a plain
    bucketed scan, no dedup aggregate, no filter. When orphans exist,
    a NOT-IN filter on the tiny orphan list partition-prunes exactly
    those directories; the scan's bucket metadata survives either way,
    so downstream joins on the bucket column stay Exchange-free.

    ``as_of_epoch`` is the manifest's snapshot read (the time-travel
    half of the commit log): only epochs ≤ the given id are visible —
    an ``_epoch <= N`` filter that partition-prunes everything newer,
    reproducing exactly the zone a reader saw when epoch N was the
    tip. Epochs are append-only until :func:`compact_manifest_zone`
    folds them; compaction truncates history to the fold point (the
    same trade an ACID format's VACUUM makes — snapshots older than
    the last compaction are gone).
    """
    out: dict[str, DataFrame] = {}
    for name, table in tables.items():
        df = spark.table(table)
        loc = _table_location(spark, table) or os.path.join(zone_dir, name)
        orphans = _on_disk_epochs(loc) - committed_epochs(zone_dir, name)
        if orphans:
            df = df.filter(~F.col("_epoch").isin(sorted(orphans)))
        if as_of_epoch is not None:
            df = df.filter(F.col("_epoch") <= F.lit(as_of_epoch))
        out[name] = df
    return out


def run_corpus_ingest(
    spark: SparkSession,
    raw_dir: str,
    zone_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    decontaminate_probes: DataFrame | None = None,
    exact_dedup: bool = False,
    semantic_dedup: bool = False,
    state_refresh: bool = False,
    dim: int = 64,
    n_planes: int = 8,
    threshold: float = 0.8,
    drop_dups: bool = True,
    n_buckets: int = 8,
    shingle_n: int = 5,
    cluster_assign: bool = False,
    drift_refit_factor: float | None = 2.0,
    sketch_cms: bool = False,
    cms_width: int = 1024,
    cms_depth: int = 4,
    sketch_hll: bool = False,
    hll_p: int = 10,
    learn_bpe: bool = False,
    bpe_merges: int = 8,
    table_prefix: str = "corpus_",
) -> dict[str, str]:
    """THE canonical corpus ingest (VERDICT r8 #1): one streaming
    entry point where a deployment picks ingest SEMANTICS as
    composable gates instead of choosing between three overlapping
    functions. Every arriving micro-batch flows through the enabled
    gates in order and lands through the same atomic ``_epoch``
    manifest commits (:func:`_land_epoch`) as every streamed zone:

    * ``decontaminate_probes`` — the FIRST gate (late r14): arriving
      text is rewritten by ``text.decontaminate_spans`` against the
      static eval-probe table BEFORE anything fingerprints, vectorizes,
      or tokenizes it, so every downstream gate and landed zone sees
      only decontaminated text — and two docs differing ONLY by a
      contaminated span collapse in the exact-dedup gate, which
      post-hoc cleaning would miss. Docs emptied by the surgery are
      dropped (a fully-contaminated doc must not land as ""). The gate
      is a pure function of (batch, probes) — replays bit-identically.
    * ``exact_dedup`` — the ``operators.dedup.incremental_dedup``
      fingerprint gate against the ALREADY-LANDED corpus: only
      ``status='new'`` rows survive — batch-internal dups collapse to
      the min-id keeper, corpus dups drop. The fingerprint set is
      DERIVED from the committed zone at gate time (never a second
      source of truth); at 100 TB the per-batch probe is the delta
      side of the bloom-pruned join.
    * ``semantic_dedup`` — the SRP near-dup gate: survivors
      feature-hash into unit vectors, SRP-bucket, and probe the
      committed corpus' incrementally-appended vector zone for
      cosine ≥ ``threshold`` pairs (the streaming twin of the batch
      ``text_semantic_neardup`` chain). Lands ``doc_vectors`` and
      ``neardup_pairs`` beside the corpus; with ``drop_dups`` a doc
      near-dupping any committed doc (or a smaller-id batch sibling —
      the greedy per-edge keeper) is dropped. On a within-batch chain
      x~y, y~z, x<z<y that keeper can keep z where the batch
      connected-components keeper (``dedup.dedup_clusters``) would
      not; zero-signal docs (no vector) are always kept. With
      ``drop_dups=False`` the union of ``neardup_pairs`` over epochs
      is row-identical to the batch operator on the same corpus. The
      probe only trusts vector epochs whose DOCUMENTS epoch also
      committed, so a crash between the two leaves a self-healing
      cache entry, never phantom corpus members.
    * ``state_refresh`` — maintains the unified token-event grain
      (``corpus_state.token_event_counts``) incrementally as a
      ``token_events`` zone table, so every corpus state family
      (term / feature / shingle / vectors) derives from the committed
      grain with zero text re-scans. The grain is append-only (a
      document's events are final when it arrives; doc_ids are
      unique), so the committed union IS the corpus grain.
    * ``cluster_assign`` (requires ``state_refresh``; VERDICT r9 #5)
      — maintains the k-means ``cluster_assignment`` state per epoch:
      the first non-empty epoch FITS (``kmeans_fixed``, gen 0) and
      lands the centroids + meta in the zone's model dir; later
      epochs assign arriving docs against the LANDED centroids
      (``kmeans_assign`` — one broadcast-argmin pass, no refit); when
      an epoch's deterministic mean assignment distance exceeds
      ``drift_refit_factor ×`` the model's fit-time mean, the model
      refits on the full committed grain (gen+1) and the full
      reassignment lands in that epoch — readers
      (:func:`read_cluster_assignment`) filter to the current
      generation. Fit decisions are recorded in the model meta
      (``fit_epoch``) so every crash window replays to the identical
      state.
    * ``sketch_cms`` (requires ``state_refresh``) — maintains the
      Count-Min term-frequency sketch per epoch: each batch's term
      counts (the grain's 't' slice, no extra tokenize) fold into a
      ``cms_depth × cms_width`` cell table landed append-only through
      the same epoch manifest; cells are sums, so
      :func:`read_cms_cells`' groupBy-sum over committed epochs IS
      the corpus sketch, bit-exact vs the batch build
      (replay-parity-tested). The d×w cells are the only state — a
      few KB per epoch regardless of vocabulary.
    * ``sketch_hll`` (requires ``state_refresh``) — maintains the
      HyperLogLog distinct-vocabulary register table per epoch: each
      batch's terms (the grain's 't' slice) fold into ≤ 2^p
      ``(r_idx, rho)`` registers landed through the same manifest;
      registers are MAXes (associative, commutative, IDEMPOTENT —
      replay can't even double-count), so
      :func:`read_hll_registers`' groupBy-max over committed epochs
      IS the corpus sketch, bit-exact vs the batch
      ``text.hll_registers_from_terms``.
    * ``learn_bpe`` (requires ``state_refresh``; VERDICT r11 #3 —
      the last learned model without an ingest gate) — maintains the
      BPE tokenizer under ingest: each batch's weighted word-type
      counts (the grain's 't' slice under the training ``[a-z0-9]+``
      filter — mergeable integer SUMS, the CMS-cell law) land as a
      ``bpe_word_counts`` epoch; the first non-empty epoch LEARNS
      (gen 0, ``text.bpe_learn_merges_from_words`` — bit-exact vs
      the batch ``_bpe_state_zone`` build over the same corpus) and
      lands merge table + final vocab in the zone's model dir (meta
      commits before the counts epoch, the kmeans-gate crash
      discipline); later epochs only land counts, scoring the
      batch's FRAGMENTATION (mean subwords per word occurrence
      under the landed merge table — the tokenizer-quality number)
      against the model's fit-time mean: drift beyond
      ``drift_refit_factor ×`` refits gen+1 FROM THE FOLDED COUNTS
      (:func:`read_bpe_word_counts` + batch — zero text re-scans:
      Sennrich's algorithm only ever needs the word-type table).
      Serve via :func:`read_bpe_model` →
      ``bpe_doc_token_count_from_vocab`` /
      ``bpe_subword_stats_from_vocab``.

    Gate composition shares work: with both ``semantic_dedup`` and
    ``state_refresh`` on, the batch grain is STAGED once (the single
    tokenize pass over the surviving text), the gate's vectors derive
    from the staged grain (``corpus_state.vectors_from_event_counts``
    — bit-identical to ``feature_hash_vectors``), and the kept docs'
    grain rows land as the ``token_events`` epoch — one tokenize per
    arriving document serves dedup AND state maintenance, and the
    grain never contains dropped near-dups.

    Crash-window discipline (unchanged from the folded entries):
    auxiliary tables land BEFORE the documents table and each
    ``_land_epoch`` is an idempotent no-op once its own manifest holds
    the epoch, so docs-committed implies the epoch fully landed and a
    crash between commits heals on replay. Stale ``_ev_staging_*``
    dirs from a crash mid-epoch are swept at stream start and the
    per-epoch staging dir is removed in a ``finally`` (ADVICE r8).

    Returns ``{zone name: catalog table}`` for every landed table.
    """
    import glob
    import shutil

    from ..functions.core import det_round
    from ..operators.corpus_state import (
        token_event_counts,
        vectors_from_event_counts,
    )
    from ..operators.dedup import incremental_dedup
    from ..operators.ml import kmeans_assign, kmeans_fixed
    from ..operators.similarity import cosine, srp_bucket
    from ..operators.text import feature_hash_vectors

    if cluster_assign and not state_refresh:
        raise ValueError(
            "cluster_assign requires state_refresh=True — arriving "
            "docs' vectors and drift refits both derive from the "
            "landed token-event grain"
        )
    if sketch_cms and not state_refresh:
        raise ValueError(
            "sketch_cms requires state_refresh=True — per-epoch term "
            "counts derive from the batch grain's 't' slice"
        )
    if sketch_hll and not state_refresh:
        raise ValueError(
            "sketch_hll requires state_refresh=True — per-epoch "
            "registers derive from the batch grain's 't' slice"
        )
    if learn_bpe and not state_refresh:
        raise ValueError(
            "learn_bpe requires state_refresh=True — per-epoch word "
            "counts derive from the batch grain's 't' slice"
        )
    name = "documents"

    def zone(zname: str, bucket_col: str = "doc_id", fold=None) -> _Zone:
        return _Zone(
            zname, f"{table_prefix}{zname}", zone_dir, n_buckets,
            bucket_col, fold=fold,
        )

    # land order: every auxiliary zone commits before the documents
    zones: dict[str, _Zone] = {}
    if semantic_dedup:
        zones["doc_vectors"] = zone("doc_vectors")
        zones["neardup_pairs"] = zone("neardup_pairs", "vec_a")
    if state_refresh:
        zones["token_events"] = zone("token_events")
        # a resumed ingest must never append current-version grain
        # epochs beside an older zone's files (ADVICE r9): fail fast
        # with the rebuild-required message, then stamp the version
        # so later resumes (and batch readers) can check it
        from ..operators.corpus_state import (
            check_grain_version,
            record_grain_version,
        )

        check_grain_version(zone_dir)
        record_grain_version(zone_dir)
    if cluster_assign:
        zones["cluster_assignment"] = zone(
            "cluster_assignment",
            fold=_live_generation(zone_dir, KMEANS_MODEL_DIR),
        )
    if sketch_cms:
        zones["cms_cells"] = zone("cms_cells", "col", _sum_cells)
    if sketch_hll:
        zones["hll_registers"] = zone("hll_registers", "r_idx", _max_registers)
    if learn_bpe:
        zones["bpe_word_counts"] = zone(
            "bpe_word_counts", "word", _sum_word_counts
        )
    zones[name] = zone(name)
    tables = {n: z.table for n, z in zones.items()}

    def _grain_vectors() -> DataFrame:
        """Full-corpus feature-hash vectors from the COMMITTED grain
        (includes the current epoch — token_events lands before the
        cluster gate runs): a grain re-aggregation, zero text scans."""
        g = read_manifest_zone(
            spark, {"token_events": tables["token_events"]}, zone_dir
        )["token_events"]
        return vectors_from_event_counts(
            g.select("doc_id", "kind", "s", "h", "h2", "c"), dim=dim
        )

    def _kmeans_fit(vecs: DataFrame, gen: int, gdir: str) -> DataFrame:
        # the fit-epoch assignment is kmeans_fixed's own — bit-exact vs
        # the batch cluster seam over the same docs
        assigned, cent_df = kmeans_fixed(
            vecs,
            k=CLUSTER_K,
            iterations=CLUSTER_ITERATIONS,
            dim=dim,
            return_model=True,
        )
        cent_df.coalesce(1).write.mode("overwrite").parquet(gdir)
        return assigned

    if cluster_assign:
        cluster_gate = _ModelGate(
            zones["cluster_assignment"],
            KMEANS_MODEL_DIR,
            _kmeans_fit,
            # broadcast-argmin against the k landed centroids
            encode=lambda vecs, gen: kmeans_assign(
                vecs, read_kmeans_centroids(spark, zone_dir, gen)
            ),
            refit_input=lambda _vecs: _grain_vectors(),
            rows=lambda _v, out, gen: out.withColumn("model_gen", F.lit(gen)),
            empty_schema="doc_id long, cluster_id long, dist double",
            meta_params={
                "k": CLUSTER_K, "iterations": CLUSTER_ITERATIONS, "dim": dim,
            },
        )

    def _bpe_batch_words(grain: DataFrame) -> DataFrame:
        """The batch's weighted word-type slice under the training
        filter — bit-identical to the batch zone's derivation
        (term_state groupBy-sum is the same grain aggregate)."""
        return (
            grain.filter(F.col("kind") == "t")
            .filter(F.col("s").rlike("^[a-z0-9]+$"))
            .groupBy(F.col("s").alias("word"))
            .agg(F.sum("c").cast("long").alias("n"))
        )

    def _bpe_folded_words(batch_words: DataFrame) -> DataFrame:
        """Committed corpus word counts + the in-flight batch — the
        REFIT input: |vocab| rows, zero text scans (Sennrich's
        algorithm only ever needs the word-type table, so
        refit-from-counts is exact, not an approximation)."""
        if not spark.catalog.tableExists(tables["bpe_word_counts"]):
            return batch_words
        committed = read_bpe_word_counts(
            spark, tables["bpe_word_counts"], zone_dir
        )
        return _sum_word_counts(committed.unionByName(batch_words))

    def _bpe_mean_tokens(vocab: DataFrame) -> float | None:
        """Weighted mean subwords per word OCCURRENCE of a merged
        vocab state ``(seq, n)`` — the fragmentation statistic the
        drift gate thresholds on (integer sums, deterministic
        decimal ratio; one bounded driver scalar)."""
        arr = F.split(
            F.expr("substring(seq, 2, length(seq) - 2)"), "><"
        )
        row = vocab.agg(
            (
                F.sum(F.col("n") * F.size(arr)).cast("decimal(28,12)")
                / F.sum("n")
            )
            .cast("double")
            .alias("m")
        ).collect()[0]
        return None if row["m"] is None else float(row["m"])

    def _bpe_apply_merges(words: DataFrame, merge_rows) -> DataFrame:
        """Apply the LANDED merge table to a fresh batch's words —
        greedy left-to-right replace in rank order, exactly the
        learn-time rule. The merge table is a bounded driver
        transfer (n_merges rows); the replace chain is n_merges
        projections deep (a deployment scoring drift under
        thousands of merges would re-land through
        bpe_learn_merges' ping-pong discipline)."""
        v = words.select(
            F.regexp_replace("word", "(.)", "<$1>").alias("seq"), "n"
        )
        for r in merge_rows:
            v = v.select(
                F.replace(
                    F.col("seq"),
                    F.lit(f"<{r['sym_left']}><{r['sym_right']}>"),
                    F.lit(f"<{r['merged']}>"),
                ).alias("seq"),
                "n",
            )
        return v

    def _bpe_fit(words: DataFrame, gen: int, gdir: str) -> DataFrame:
        """One deterministic merge learn; merge table + final vocab
        land under the gen dir, and the landed vocab is the fit-time
        fragmentation input."""
        from ..operators.text import bpe_learn_merges_from_words

        merges_df, vocab = bpe_learn_merges_from_words(
            words, gdir, n_merges=bpe_merges, return_vocab=True
        )
        merges_df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(gdir, "merge_table")
        )
        vocab.write.mode("overwrite").parquet(
            os.path.join(gdir, "vocab_final")
        )
        return spark.read.parquet(os.path.join(gdir, "vocab_final"))

    def _bpe_encode(words: DataFrame, gen: int) -> DataFrame:
        merge_rows = (
            read_bpe_model(spark, zone_dir, gen)[0]
            .orderBy("merge_rank")
            .collect()
        )
        return _bpe_apply_merges(words, merge_rows)

    # the counts epoch lands whatever the model decision: the fit
    # lands no zone rows of its own
    if learn_bpe:
        bpe_gate = _ModelGate(
            zones["bpe_word_counts"],
            BPE_MODEL_DIR,
            _bpe_fit,
            _bpe_encode,
            refit_input=_bpe_folded_words,
            rows=lambda words, _out, _gen: words,
            empty_schema="seq string, n long",
            meta_params={"n_merges": bpe_merges},
            statistic=_bpe_mean_tokens,
            stat_key="fit_mean_tokens",
        )

    # ADVICE r8: a crash mid-epoch leaves its staging dir behind and a
    # LATER epoch's success would strand it forever (replay only
    # overwrites the same epoch's dir) — sweep before the stream starts
    for stale in glob.glob(os.path.join(zone_dir, "_ev_staging_*")):
        shutil.rmtree(stale, ignore_errors=True)

    # resolve the decontamination broadcast gate ONCE before the stream
    # starts (ADVICE r15): the probe table is static for the stream's
    # lifetime, so its size — and if the probe set is a derived plan,
    # its derivation — must not be recomputed per micro-batch. Persist
    # before counting so the count job materializes the same blocks the
    # per-batch gram join will read.
    n_decontaminate_probes: int | None = None
    if decontaminate_probes is not None:
        decontaminate_probes = decontaminate_probes.persist()
        n_decontaminate_probes = decontaminate_probes.count()

    def land(batch_df: DataFrame, epoch_id: int) -> None:
        keep = batch_df
        batch_vecs = None  # set by the semantic gate; cluster gate shares
        if decontaminate_probes is not None:
            from ..operators.text import decontaminate_spans

            # only docs with an actual removal are rewritten (their
            # whitespace normalizes to the surgery's token grain);
            # untouched docs land byte-for-byte, emptied docs drop
            cleaned = decontaminate_spans(
                keep,
                decontaminate_probes,
                n=DECONTAMINATE_N,
                probe_count=n_decontaminate_probes,
            ).select(
                "doc_id",
                F.col("clean_text").alias("_clean_text"),
                F.col("n_removed").alias("_n_removed"),
            )
            # drop only docs the surgery EMPTIED (n_removed>0 and
            # nothing left) — a doc whose ORIGINAL text was already
            # empty was never touched (n_removed=0) and must land
            # byte-for-byte, matching the batch oracle (ADVICE r14)
            keep = (
                keep.join(cleaned, "doc_id")
                .filter(
                    ~(
                        (F.col("_n_removed") > 0)
                        & (F.col("_clean_text") == "")
                    )
                )
                .withColumn(
                    "text",
                    F.when(
                        F.col("_n_removed") > 0, F.col("_clean_text")
                    ).otherwise(F.col("text")),
                )
                .drop("_clean_text", "_n_removed")
            )
        if exact_dedup:
            fps = None
            if spark.catalog.tableExists(tables[name]):
                corpus = read_manifest_zone(
                    spark, {name: tables[name]}, zone_dir
                )[name]
                norm = F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                )
                fps = corpus.select(
                    F.md5(norm.cast("binary")).alias("fingerprint")
                )
            if fps is None:
                fps = spark.createDataFrame([], "fingerprint string")
            keep = keep.join(
                incremental_dedup(keep, fps)
                .filter(F.col("status") == "new")
                .select("doc_id"),
                "doc_id",
            )

        staging = None
        ev = None
        try:
            if state_refresh and semantic_dedup:
                # stage the survivors' grain ONCE — the only tokenize
                # pass; the gate's vectors and the landed grain both
                # read it back
                staging = os.path.join(
                    zone_dir, f"_ev_staging_{epoch_id}"
                )
                token_event_counts(
                    keep, shingle_n=shingle_n
                ).write.mode("overwrite").parquet(staging)
                ev = spark.read.parquet(staging)
            elif state_refresh:
                ev = token_event_counts(keep, shingle_n=shingle_n)

            if semantic_dedup:
                bucket = lambda v: srp_bucket(v, dim, n_planes)
                vec_src = (
                    vectors_from_event_counts(ev, dim=dim)
                    if ev is not None and staging is not None
                    else feature_hash_vectors(keep, dim=dim)
                )
                bv = vec_src.select(
                    "doc_id",
                    "feature_vec",
                    bucket(F.col("feature_vec")).alias("_bk"),
                )
                # within-batch same-bucket pairs, id-ordered
                within = (
                    bv.alias("a")
                    .join(
                        bv.alias("b"),
                        on=[
                            F.col("a._bk") == F.col("b._bk"),
                            F.col("a.doc_id") < F.col("b.doc_id"),
                        ],
                    )
                    .select(
                        F.col("a.doc_id").alias("vec_a"),
                        F.col("b.doc_id").alias("vec_b"),
                        # round BEFORE the threshold, exactly like the
                        # batch operator (embedding_near_dups) —
                        # parity at the boundary depends on it
                        det_round(
                            cosine(
                                F.col("a.feature_vec"),
                                F.col("b.feature_vec"),
                            ),
                            6,
                        ).alias("_sim"),
                    )
                )
                docs_committed = sorted(committed_epochs(zone_dir, name))
                cross = None
                if docs_committed and spark.catalog.tableExists(
                    tables["doc_vectors"]
                ):
                    corpus_v = (
                        read_manifest_zone(
                            spark,
                            {"doc_vectors": tables["doc_vectors"]},
                            zone_dir,
                        )["doc_vectors"]
                        .filter(F.col("_epoch").isin(docs_committed))
                        .select(
                            F.col("doc_id").alias("c_id"),
                            F.col("feature_vec").alias("c_vec"),
                        )
                        .withColumn("_bk", bucket(F.col("c_vec")))
                    )
                    cross = (
                        corpus_v.join(bv, "_bk")
                        .select(
                            F.least("c_id", "doc_id").alias("vec_a"),
                            F.greatest("c_id", "doc_id").alias("vec_b"),
                            det_round(
                                cosine(
                                    F.col("c_vec"), F.col("feature_vec")
                                ),
                                6,
                            ).alias("_sim"),
                            F.col("doc_id").alias("_batch_id"),
                        )
                    )
                within_hits = within.filter(F.col("_sim") >= threshold)
                cross_hits = (
                    cross.filter(F.col("_sim") >= threshold)
                    if cross is not None
                    else None
                )
                pairs = within_hits.select("vec_a", "vec_b", "_sim")
                if cross_hits is not None:
                    pairs = pairs.unionByName(
                        cross_hits.select("vec_a", "vec_b", "_sim")
                    )
                pairs = pairs.dropDuplicates(["vec_a", "vec_b"]).select(
                    "vec_a", "vec_b", F.col("_sim").alias("cosine_sim")
                )
                if drop_dups:
                    dropped = within_hits.select(
                        F.col("vec_b").alias("doc_id")
                    )
                    if cross_hits is not None:
                        dropped = dropped.unionByName(
                            cross_hits.select(
                                F.col("_batch_id").alias("doc_id")
                            )
                        )
                    keep = keep.join(
                        dropped.distinct(), "doc_id", "left_anti"
                    )
                kept_vecs = bv.join(
                    keep.select("doc_id"), "doc_id"
                ).select("doc_id", "feature_vec")
                batch_vecs = kept_vecs  # share with the cluster gate
                _land_epoch(spark, kept_vecs, zones["doc_vectors"], epoch_id)
                _land_epoch(spark, pairs, zones["neardup_pairs"], epoch_id)
            if state_refresh:
                grain = (
                    ev.join(keep.select("doc_id"), "doc_id")
                    if semantic_dedup
                    else ev
                )
                _land_epoch(spark, grain, zones["token_events"], epoch_id)
                if cluster_assign:
                    _run_model_gate(
                        spark, cluster_gate,
                        (
                            batch_vecs
                            if batch_vecs is not None
                            else vectors_from_event_counts(grain, dim=dim)
                        ),
                        epoch_id, drift_refit_factor,
                    )
                if sketch_cms:
                    from ..operators.text import (
                        cms_cells_from_term_counts,
                    )

                    batch_terms = (
                        grain.filter(F.col("kind") == "t")
                        .groupBy(F.col("s").alias("term"))
                        .agg(F.sum("c").cast("long").alias("n_true"))
                    )
                    _land_epoch(
                        spark,
                        cms_cells_from_term_counts(
                            batch_terms, width=cms_width, depth=cms_depth
                        ),
                        zones["cms_cells"],
                        epoch_id,
                    )
                if sketch_hll:
                    from ..operators.text import hll_registers_from_terms

                    _land_epoch(
                        spark,
                        hll_registers_from_terms(
                            grain.filter(F.col("kind") == "t").select(
                                F.col("s").alias("term")
                            ),
                            p=hll_p,
                        ),
                        zones["hll_registers"],
                        epoch_id,
                    )
                if learn_bpe:
                    _run_model_gate(
                        spark, bpe_gate, _bpe_batch_words(grain),
                        epoch_id, drift_refit_factor,
                    )
            _land_epoch(spark, keep, zones[name], epoch_id)
        finally:
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)

    _run_epochs(
        spark, spark.readStream.schema(schema).parquet(raw_dir),
        checkpoint_dir, list(zones.values()), land,
    )
    if decontaminate_probes is not None:
        decontaminate_probes.unpersist()
    return tables
