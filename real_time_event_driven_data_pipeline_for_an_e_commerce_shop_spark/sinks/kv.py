"""Keyed upsert sink — the reference's S7 DynamoDB writer, Spark-first.

The reference writes 246 sequential row-at-a-time ``put_item`` calls
(``/root/reference/Task_2/task_2.py:144-197``) — the slowest part of
its pipeline and unusable at scale. Here the same "upsert by key"
contract is a **dynamic partition overwrite**: KPI tables are keyed by
``order_date`` (+ category), so writing a batch replaces exactly the
date partitions it touches and leaves the rest of the table untouched.
That is the 100 TB-safe shape: no read-modify-write of the full table,
no driver-side row loop, atomic per-partition swap.

A true KV store (DynamoDB, Redis, an HTTP bulk endpoint) plugs in via
:class:`BatchedKVWriter` — the ``foreachPartition`` shape of the
reference's writer, minus the row-at-a-time loop: each partition's
rows are grouped into provider-sized batches (DynamoDB's
``batch_write_item`` caps at 25) and handed to a pluggable
``put_batch`` callable with exponential-backoff retry and
unprocessed-item resubmission. The callable is client-agnostic — no
proprietary SDK is imported here; tests drive it with a
filesystem-backed fake.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession

#: ``put_batch`` contract: receives a list of row dicts; returns None
#: (or an empty sequence) on full success, or the subset of rows the
#: store did NOT process (DynamoDB ``UnprocessedItems`` shape) — those
#: are resubmitted with backoff. Raise to signal a retryable failure
#: of the whole batch.
PutBatchFn = Callable[[list[dict]], Sequence[dict] | None]


def flush_with_retry(
    put_batch: PutBatchFn,
    batch: list[dict],
    max_retries: int = 3,
    base_backoff_s: float = 0.05,
) -> None:
    """Deliver one batch: retry thrown failures and resubmit returned
    unprocessed rows, sleeping ``base_backoff_s * 2^attempt`` between
    attempts (the standard decorrelated-ish backoff a KV client needs
    under throttling). Raises after ``max_retries`` unsuccessful
    retries so a poisoned batch fails the Spark task — and the task
    retry re-runs the partition, which is why ``put_batch`` must be
    idempotent per key (upsert semantics, the S7 contract)."""
    pending = batch
    for attempt in range(max_retries + 1):
        try:
            leftover = put_batch(pending)
        except Exception:
            if attempt == max_retries:
                raise
            time.sleep(base_backoff_s * (2**attempt))
            continue
        pending = list(leftover) if leftover else []
        if not pending:
            return
        if attempt < max_retries:
            time.sleep(base_backoff_s * (2**attempt))
    raise RuntimeError(
        f"KV sink: {len(pending)} rows still unprocessed after "
        f"{max_retries} retries"
    )


class BatchedKVWriter:
    """S7 as a distributed batched writer: the reference performs 246
    sequential driver-side ``put_item`` calls
    (``/root/reference/Task_2/task_2.py:144-197``); here every
    partition writes its own rows in ``batch_size`` chunks, in
    parallel across executors, through a pluggable ``put_batch``.

    ``put_batch`` must be picklable (it ships to executors) and
    idempotent per key — Spark task retries re-deliver a partition.
    At 100 TB the write rate is governed by partition count (one
    client/connection per partition, ``batch_size`` rows per call);
    ``df.repartition(n)`` upstream is the throughput knob, and a
    provider rate limit maps to choosing ``n`` × batch rate.
    """

    def __init__(
        self,
        put_batch: PutBatchFn,
        batch_size: int = 25,
        max_retries: int = 3,
        base_backoff_s: float = 0.05,
    ) -> None:
        self.put_batch = put_batch
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.base_backoff_s = base_backoff_s

    def write(self, df: DataFrame) -> None:
        put_batch = self.put_batch
        batch_size = self.batch_size
        max_retries = self.max_retries
        base_backoff_s = self.base_backoff_s

        def _write_partition(rows: Iterable[Row]) -> None:
            batch: list[dict] = []
            for row in rows:
                batch.append(row.asDict(recursive=True))
                if len(batch) >= batch_size:
                    flush_with_retry(
                        put_batch, batch, max_retries, base_backoff_s
                    )
                    batch = []
            if batch:
                flush_with_retry(put_batch, batch, max_retries, base_backoff_s)

        df.foreachPartition(_write_partition)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` — per micro-batch,
        the same partition-parallel batched write."""

        def _fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.write(batch_df)

        return _fn


class KeyedParquetUpsertSink:
    """Upsert-by-key parquet table: ``partition_key`` (e.g.
    ``order_date``) drives dynamic partition overwrite."""

    def __init__(self, path: str, partition_key: str) -> None:
        self.path = path
        self.partition_key = partition_key

    def upsert(self, batch: DataFrame) -> None:
        """Replace exactly the partitions present in ``batch``.

        The dynamic overwrite mode is a per-write option, never the
        session conf: the batch may belong to a session that other
        threads keep using while the stream runs (a micro-batch runs on
        the query's own thread), where flipping the session-wide mode
        would turn a concurrent static overwrite into a dynamic one."""
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_key)
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def _fn(batch: DataFrame, epoch_id: int) -> None:
            self.upsert(batch)

        return _fn
