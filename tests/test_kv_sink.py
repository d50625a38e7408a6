"""S7 sinks: the keyed parquet upsert table, and the true-KV path —
the generic batched foreachPartition writer: retry/backoff unit tests
(driver-side, no Spark) and executor-side end-to-end writes against a
filesystem-backed fake KV store, batch and streaming."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.kv import (
    BatchedKVWriter,
    KeyedParquetUpsertSink,
    flush_with_retry,
)


def _fs_put_batch(store_dir: str, fail_first_attempt: bool = False):
    """Filesystem fake of a KV bulk endpoint: one ``{key}.json`` per
    row, last write wins (idempotent upsert — the S7 contract). With
    ``fail_first_attempt`` the first delivery of each distinct batch
    raises, exercising the executor-side retry path (state must live
    on disk: Python workers are separate processes, counters don't
    survive)."""

    def put(batch: list[dict]) -> None:
        if fail_first_attempt:
            digest = hashlib.md5(
                json.dumps(batch, sort_keys=True, default=str).encode()
            ).hexdigest()
            marker = os.path.join(store_dir, f".attempt_{digest}")
            if not os.path.exists(marker):
                open(marker, "w").close()
                raise IOError("transient store failure (throttled)")
        for row in batch:
            with open(os.path.join(store_dir, f"{row['key']}.json"), "w") as f:
                json.dump(row, f, default=str)

    return put


def _store_contents(store_dir: str) -> dict:
    out = {}
    for name in os.listdir(store_dir):
        if name.endswith(".json"):
            with open(os.path.join(store_dir, name)) as f:
                row = json.load(f)
            out[row["key"]] = row["val"]
    return out


def test_flush_with_retry_resubmits_unprocessed_then_succeeds():
    calls = []

    def put(batch):
        calls.append(list(batch))
        # first call: store accepts all but the last row (DynamoDB
        # UnprocessedItems shape); second call: accepts everything
        return batch[-1:] if len(calls) == 1 else None

    flush_with_retry(put, [{"k": 1}, {"k": 2}, {"k": 3}], base_backoff_s=0.0)
    assert calls == [[{"k": 1}, {"k": 2}, {"k": 3}], [{"k": 3}]]


def test_flush_with_retry_raises_after_max_retries():
    def always_throttled(batch):
        raise IOError("throttled")

    with pytest.raises(IOError):
        flush_with_retry(
            always_throttled, [{"k": 1}], max_retries=2, base_backoff_s=0.0
        )

    def never_finishes(batch):
        return batch  # everything always unprocessed

    with pytest.raises(RuntimeError, match="unprocessed"):
        flush_with_retry(
            never_finishes, [{"k": 1}], max_retries=2, base_backoff_s=0.0
        )


def test_batched_kv_writer_upserts_from_executors(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    df = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") * 10).alias("val"),
    ).repartition(4)
    # batch_size=3 forces multiple batches per partition; the flaky
    # fake fails every batch's first delivery → retry must recover
    writer = BatchedKVWriter(
        _fs_put_batch(store, fail_first_attempt=True),
        batch_size=3,
        base_backoff_s=0.0,
    )
    writer.write(df)
    assert _store_contents(store) == {f"k{i}": i * 10 for i in range(10)}

    # second write updates a subset — last write wins per key
    upd = spark.createDataFrame(
        [("k3", 999), ("k7", 777)], "key string, val long"
    )
    writer.write(upd)
    expect = {f"k{i}": i * 10 for i in range(10)} | {"k3": 999, "k7": 777}
    assert _store_contents(store) == expect


def test_kv_writer_streaming_foreach_batch(spark, tmp_path):
    """Streaming S7: the KV writer rides writeStream.foreachBatch next
    to the parquet sink; across two micro-batches the store holds the
    latest value per key."""
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pq = str(tmp_path / "pq")
    os.makedirs(store)

    batch1 = spark.createDataFrame(
        [("k1", 1), ("k2", 2)], "key string, val long"
    )
    batch1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("key string, val long").parquet(src)
    kv = BatchedKVWriter(_fs_put_batch(store), batch_size=25)

    def both_sinks(bdf, epoch_id):
        bdf.persist()
        bdf.write.mode("append").parquet(pq)
        kv.foreach_batch()(bdf, epoch_id)
        bdf.unpersist()

    q = (
        stream.writeStream.foreachBatch(both_sinks)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert _store_contents(store) == {"k1": 1, "k2": 2}
        spark.createDataFrame(
            [("k2", 22), ("k3", 3)], "key string, val long"
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert _store_contents(store) == {"k1": 1, "k2": 22, "k3": 3}
    assert spark.read.parquet(pq).count() == 4


def test_keyed_upsert_replaces_only_batch_dates_and_keeps_session_conf(
    spark, tmp_path
):
    """The upsert replaces exactly the batch's date partitions, leaves
    every other date untouched, and never flips the session-wide
    partitionOverwriteMode (a concurrent static overwrite in the same
    session must stay static)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    sink = KeyedParquetUpsertSink(str(tmp_path / "kpi"), "order_date")
    schema = "category string, revenue double, order_date string"
    sink.upsert(
        spark.createDataFrame(
            [("a", 1.0, "2025-03-08"), ("b", 2.0, "2025-03-08"),
             ("a", 3.0, "2025-03-09")],
            schema,
        )
    )
    sink.upsert(spark.createDataFrame([("c", 9.0, "2025-03-09")], schema))
    got = sorted(
        (r["category"], r["revenue"], str(r["order_date"]))
        for r in sink.read(spark).collect()
    )
    assert got == [
        ("a", 1.0, "2025-03-08"),  # untouched partition survives
        ("b", 2.0, "2025-03-08"),
        ("c", 9.0, "2025-03-09"),  # the batch's date is replaced
    ]
    assert spark.conf.get(key) == before
