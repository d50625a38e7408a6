"""End-to-end tests of the event-driven layer: file-source pipeline
with checkpoint/upsert, watermarked rollups, streaming sessionization.
All drive real Structured Streaming queries to completion
(availableNow / processAllAvailable) on temp dirs."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    events as events_ops,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
    load_testdata,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
    run_event_driven_pipeline,
    sessionized_stream,
    watermarked_daily_rollup,
)

SF = "/root/testdata/sf0.001"

ORDERS_CSV = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
1,100,delivered,2025-03-08T10:00:00,,2025-03-08T12:00:00,2025-03-09T10:00:00,2
2,101,returned,2025-03-08T11:00:00,2025-03-10T09:00:00,2025-03-08T13:00:00,2025-03-09T11:00:00,1
3,102,delivered,2025-03-09T09:00:00,,2025-03-09T12:00:00,2025-03-10T10:00:00,1
"""

PRODUCTS_CSV = """id,sku,cost,category,name,brand,retail_price,department
1,A-1,5.0,Electronics,Widget,Acme,10.0,Gadgets
2,B-2,2.0,Books,Novel,Pub,8.0,Media
"""

ITEMS1_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
10,1,100,1,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,2025-03-09T10:00:00,,10.0
11,1,100,2,delivered,2025-03-08T10:00:00,2025-03-08T12:00:00,2025-03-09T10:00:00,,8.0
12,2,101,1,returned,2025-03-08T11:00:00,2025-03-08T13:00:00,2025-03-09T11:00:00,2025-03-10T09:00:00,10.0
"""

ITEMS2_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
13,3,102,2,delivered,2025-03-09T09:00:00,2025-03-09T12:00:00,2025-03-10T10:00:00,,8.0
"""


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_event_driven_pipeline_incremental(spark, tmp_path):
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)

    run_event_driven_pipeline(spark, raw, out, ckpt)
    cat = spark.read.parquet(f"{out}/category_kpi")
    day1 = {r["category"]: r for r in cat.collect()}
    assert set(day1) == {"Electronics", "Books"}
    assert day1["Electronics"]["daily_revenue"] == 20.0
    ord1 = spark.read.parquet(f"{out}/order_kpi").collect()
    assert len(ord1) == 1  # only 2025-03-08 has items so far

    # second upload: order 3's item arrives → only 2025-03-09 recomputed
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)
    run_event_driven_pipeline(spark, raw, out, ckpt)
    ord2 = {str(r["order_date"]): r for r in
            spark.read.parquet(f"{out}/order_kpi").collect()}
    assert set(ord2) == {"2025-03-08", "2025-03-09"}
    assert ord2["2025-03-09"]["total_orders"] == 1
    assert ord2["2025-03-08"]["total_items_sold"] == 3

    # exactly-once: re-running with no new files changes nothing
    run_event_driven_pipeline(spark, raw, out, ckpt)
    assert spark.read.parquet(f"{out}/order_kpi").count() == 2


def _kpi_hashes(spark, out_dir: str) -> dict[str, tuple[int, str]]:
    """{KPI table: (rows, order-insensitive value hash)} under ``out_dir``."""
    from scripts.check_oracle import value_hash

    out = {}
    for name in ("category_kpi", "order_kpi"):
        df = spark.read.parquet(f"{out_dir}/{name}").toPandas()
        df["order_date"] = df["order_date"].astype(str)
        out[name] = (len(df), value_hash(df))
    return out


def _batch_kpi_hashes(spark, raw: str, check_dir: str) -> dict[str, tuple[int, str]]:
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )

    pipeline_batch.run(spark, raw, check_dir)
    return _kpi_hashes(spark, check_dir)


def test_event_driven_pipeline_late_order(spark, tmp_path):
    """An item that lands before its order counts once the order lands,
    even when that upload holds orders alone; an item whose order never
    lands is never counted. The streamed tables then equal a batch run
    over the same raw zone."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    header, order1, order2, order3 = ORDERS_CSV.strip().splitlines()
    orphan = "14,99,103,1,delivered,2025-03-09T09:00:00,,,,5.0\n"
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _write(f"{raw}/orders/part1.csv", "\n".join([header, order1, order2, ""]))
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV + orphan)

    run_event_driven_pipeline(spark, raw, out, ckpt)
    dates = {str(r["order_date"]) for r in spark.read.parquet(f"{out}/order_kpi").collect()}
    assert dates == {"2025-03-08"}  # order 3's item waits for its order

    # an upload of orders alone: order 3 lands, and its waiting item counts
    _write(f"{raw}/orders/part2.csv", "\n".join([header, order3, ""]))
    run_event_driven_pipeline(spark, raw, out, ckpt)
    days = {str(r["order_date"]): r for r in spark.read.parquet(f"{out}/order_kpi").collect()}
    assert set(days) == {"2025-03-08", "2025-03-09"}
    assert days["2025-03-09"]["total_items_sold"] == 1  # item 14's order never landed
    assert _kpi_hashes(spark, out) == _batch_kpi_hashes(spark, raw, str(tmp_path / "check"))


def test_event_driven_pipeline_archives_uploads(spark, tmp_path):
    """``archive_dir``: after a call, the orders and order_items files it
    processed sit under ``archive_dir`` at their absolute paths, and a
    rerun with no new files changes no KPI row."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)

    run_event_driven_pipeline(spark, raw, out, ckpt, archive_dir=archive)
    for name, files in (("orders", ["part1.csv"]),
                        ("order_items", ["part1.csv", "part2.csv"])):
        assert os.listdir(f"{raw}/{name}") == []
        moved = os.path.join(archive, os.path.abspath(f"{raw}/{name}").lstrip("/"))
        assert sorted(os.listdir(moved)) == files
    assert os.path.exists(f"{raw}/products.csv")
    kpis = _kpi_hashes(spark, out)
    assert kpis["order_kpi"][0] == 2

    run_event_driven_pipeline(spark, raw, out, ckpt, archive_dir=archive)
    assert _kpi_hashes(spark, out) == kpis


def test_event_driven_pipeline_requires_inputs(spark, tmp_path):
    """The readiness gate runs before any other work: a raw zone without
    ``products.csv`` raises a FileNotFoundError that names it, and
    leaves no landed zone and no checkpoint; one without ``orders/``
    names that directory."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        pipeline as stream_pipeline,
    )

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)

    with pytest.raises(FileNotFoundError, match="products.csv"):
        run_event_driven_pipeline(spark, raw, out, ckpt)
    assert not os.path.exists(f"{out}/{stream_pipeline.EVENT_ZONE_DIR}")
    assert not os.path.exists(ckpt)

    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    os.rename(f"{raw}/orders", str(tmp_path / "orders_elsewhere"))
    with pytest.raises(FileNotFoundError, match="'orders'"):
        run_event_driven_pipeline(spark, raw, out, ckpt)
    assert not os.path.exists(ckpt)


@pytest.mark.slow
def test_event_driven_pipeline_crash_replay(spark, tmp_path, monkeypatch):
    """Two crash windows of one epoch, each healed by the restart:

    1. the items append lands but its commit marker is never written —
       the replay scrubs the orphan ``_epoch`` directory and the rows
       land once;
    2. the landing commits but the KPI upserts never run — the replay
       finds the landing committed and still upserts.

    Afterwards the KPI tables equal a batch run and every zone holds
    each key exactly once."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.kv import (
        KeyedParquetUpsertSink,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        pipeline as stream_pipeline,
    )

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    zone = f"{out}/{stream_pipeline.EVENT_ZONE_DIR}"
    _write(f"{raw}/products.csv", PRODUCTS_CSV)
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)

    commit = stream_pipeline._commit_epoch

    def crash_before_items_commit(zone_dir, name, epoch_id, n_rows):
        if name == "order_items":
            raise RuntimeError("crash between the items append and its commit")
        commit(zone_dir, name, epoch_id, n_rows)

    monkeypatch.setattr(stream_pipeline, "_commit_epoch", crash_before_items_commit)
    with pytest.raises(Exception):
        run_event_driven_pipeline(spark, raw, out, ckpt)
    assert stream_pipeline.committed_epochs(zone, "orders") == {0}
    assert stream_pipeline.committed_epochs(zone, "order_items") == set()
    assert os.path.isdir(f"{zone}/order_items/_epoch=0")
    monkeypatch.undo()
    run_event_driven_pipeline(spark, raw, out, ckpt)
    assert stream_pipeline.committed_epochs(zone, "order_items") == {0}
    assert _kpi_hashes(spark, out) == _batch_kpi_hashes(spark, raw, str(tmp_path / "check1"))

    def crash_before_upsert(self, batch):
        raise RuntimeError("crash between the commit and the KPI upsert")

    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)
    monkeypatch.setattr(KeyedParquetUpsertSink, "upsert", crash_before_upsert)
    with pytest.raises(Exception):
        run_event_driven_pipeline(spark, raw, out, ckpt)
    assert stream_pipeline.committed_epochs(zone, "order_items") == {0, 1}
    monkeypatch.undo()
    run_event_driven_pipeline(spark, raw, out, ckpt)
    assert _kpi_hashes(spark, out) == _batch_kpi_hashes(spark, raw, str(tmp_path / "check2"))
    for name, key in (("orders", "order_id"), ("order_items", "id")):
        landed = spark.read.parquet(f"{zone}/{name}")
        assert landed.count() == landed.select(key).distinct().count() > 0


#: Per-wave bound on the bytes the JVM reads, for the flat-read test below.
WAVE_READ_BOUND_MB = 8.0


@pytest.mark.slow
def test_event_driven_pipeline_reads_flat_per_wave(spark, tmp_path, monkeypatch):
    """Bytes the driver JVM reads per upload wave (``rchar`` of
    ``/proc/<pid>/io``, as perfbench's ``op_input_mb`` measures them)
    stay under a bound from wave 2 to wave 10 on a 30-day zone: a wave
    reads its upload, products and the touched dates, not the CSV
    history."""
    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench"))
    import gen

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spec = gen.ZoneSpec(seed=7)
    gen.write_history(spec, raw)
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def rchar() -> int:
        with open(f"/proc/{pid}/io") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("rchar:"))

    read_mb = []
    for wave in range(1, 11):  # wave 1 also ingests the history
        paths, _ = gen.write_wave(spec, wave, str(tmp_path / "staging"))
        for table in ("orders", "order_items"):
            os.rename(paths[table], os.path.join(raw, table, os.path.basename(paths[table])))
        before = rchar()
        run_event_driven_pipeline(spark, raw, out, ckpt)
        read_mb.append((rchar() - before) / 1e6)
    assert max(read_mb[1:]) < WAVE_READ_BOUND_MB, read_mb
    assert _kpi_hashes(spark, out) == _batch_kpi_hashes(spark, raw, str(tmp_path / "check"))


@pytest.fixture()
def events_stream(spark, tmp_path):
    events = load_testdata(spark, SF, ("events",))["events"]
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)
    return spark.readStream.schema(events.schema).parquet(src), events


def test_watermarked_daily_rollup_matches_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        watermarked_daily_rollup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("daily_out")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_date"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM daily_out").collect()
    }
    # append mode withholds windows newer than the watermark; whatever
    # was emitted must match the batch rollup exactly
    expected = {
        (r["event_date"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_ops.daily_event_rollup(batch).collect()
    }
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_sessionized_stream_matches_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        sessionized_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # batch sessions keyed the same way: first event's epoch-µs
    ev_us = {
        r["event_id"]: r["us"]
        for r in batch.select(
            "event_id", F.unix_micros("ts").alias("us")
        ).collect()
    }
    expected = {
        (r["user_id"], ev_us[r["first_event_id"]]): (
            r["n_events"],
            r["session_value"],
        )
        for r in events_ops.sessionize(batch).collect()
    }
    # append mode withholds sessions the watermark hasn't closed; every
    # emitted session must match its batch twin exactly
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_stateful_running_totals_incremental(spark, tmp_path):
    """applyInPandasWithState: per-user running totals accumulate
    across micro-batches and match the batch aggregate exactly."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.stateful import (
        running_user_totals,
    )

    events = load_testdata(spark, SF, ("events",))["events"].filter(
        F.col("user_id") < 20
    )
    chunk1 = events.filter(F.col("event_id") % 2 == 0)
    chunk2 = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    chunk1.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        chunk2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends a row per update — the last
    # row per user is the final state
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM running_totals"
        ).collect()
        # later rows overwrite earlier ones via dict insertion order
    }
    expect = {
        r["user_id"]: (r["n"], float(r["tot"]))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("tot"),
        )
        .collect()
    }
    assert got == expect


def test_watermark_drops_data_later_than_watermark(spark, tmp_path):
    """Append-mode windowed agg: a window is emitted once the watermark
    passes its end, and events arriving after that are dropped — the
    emitted row for the closed window never changes."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.windows import (
        watermarked_daily_rollup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    in_schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def batch(rows):
        spark.createDataFrame(rows, in_schema).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
            "event_type", "value", "props",
        ).write.mode("append").parquet(src)

    # day 1 events, then a day-3 event that advances the watermark
    # (1-day watermark) far past day 1's window end
    batch([(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
           (2, "2024-01-01 11:00:00", 1, "view", 1.0, "{}")])
    batch([(3, "2024-01-03 09:00:00", 2, "view", 1.0, "{}")])

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        watermarked_daily_rollup(stream, watermark="1 day")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first = {
        (r["event_date"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # day-1 window closed (watermark = day3 - 1day = day2 > day1 end)
    assert ("2024-01-01", 2) in first

    # a straggler for day 1 arrives — beyond the watermark: dropped
    batch([(4, "2024-01-01 23:00:00", 3, "view", 1.0, "{}")])
    q2 = (
        watermarked_daily_rollup(stream, watermark="1 day")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    after = sorted(
        (r["event_date"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    # day-1 row unchanged (still 2 events) — the late event was dropped,
    # no duplicate/updated emission for the closed window
    assert after.count(("2024-01-01", 2)) == 1
    assert ("2024-01-01", 1) not in after and ("2024-01-01", 3) not in after


def test_stateful_accumulator_matches_det_round_for_negatives():
    """The cents accumulator must floor(x*100+0.5) like det_round —
    int() truncation diverges for negatives (−0.014 → 0 cents instead
    of −1) — and skip nulls like a SQL SUM (ADVICE r1 #2)."""
    import pandas as pd

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.stateful import (
        _update_running_totals,
    )

    class FakeState:
        def __init__(self):
            self._t = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

    state = FakeState()
    pdf = pd.DataFrame({"value": [1.006, -0.014, None]})
    (out,) = list(_update_running_totals((7,), [pdf], state))
    # det_round(1.006)=1.01, det_round(-0.014)=-0.01, null skipped
    assert state.get == (3, 100)
    assert out["total_value"].iloc[0] == 1.0
    assert out["n_events"].iloc[0] == 3


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """At-least-once delivery guard: a second micro-batch re-delivers
    every event of the first (the reference's retried-S3-object case)
    plus new ones; dropDuplicatesWithinWatermark must emit each
    event_id exactly once, via the dedup state operator (bounded by
    the watermark, unlike plain streaming dropDuplicates)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        dedup_events_stream,
    )

    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def batch(ids):
        return spark.createDataFrame(
            [(i, f"2025-03-08 12:{i % 60:02d}:00", i % 7, float(i)) for i in ids],
            "event_id long, ts string, user_id long, value double",
        ).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id", "value"
        )

    batch(range(100)).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_events_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # full re-delivery of 0..99 plus new 100..149
        batch(list(range(100)) + list(range(100, 150))).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = spark.sql("SELECT event_id, COUNT(*) AS n FROM dedup_out "
                        "GROUP BY event_id").collect()
        assert len(got) == 150
        assert all(r["n"] == 1 for r in got)
        op = q.lastProgress["stateOperators"][0]
        assert op["operatorName"] == "dedupeWithinWatermark"
        assert op["numRowsDroppedByWatermark"] == 0
    finally:
        q.stop()


def test_interval_joined_stream_matches_batch(spark, events_stream, tmp_path):
    """Stream-static interval join replayed to completion == the batch
    events_order_window aggregation (stateless enrichment: every event
    appears in exactly one micro-batch, so per-event aggregation over
    the emitted rows is exact)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        interval_joined_events_stream,
    )

    stream, _ = events_stream
    orders = load_testdata(spark, SF, ("orders",))["orders"]
    q = (
        interval_joined_events_stream(stream, orders, window_days=7)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ivj_out")
        .option("checkpointLocation", str(tmp_path / "ck_ivj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: (r["n"], r["mx"])
        for r in spark.sql(
            "SELECT event_id, COUNT(o_orderkey) AS n, MAX(o_orderkey) AS mx "
            "FROM ivj_out GROUP BY event_id"
        ).collect()
    }
    expected = {
        r["event_id"]: (r["n_orders_7d"], r["last_orderkey_7d"])
        for r in QUERIES["events_order_window"](spark, SF).collect()
    }
    assert got == expected and got


def test_funnel_firsts_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """``events.funnel_firsts`` run as an update-mode stream and
    replayed to completion equals the batch grain user for user, and
    fed to ``events.funnel_from_firsts`` it equals the batch
    conversion_funnel row for row. The memory sink keeps every
    update; min() per user over them recovers the final state (firsts
    only ever decrease)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    stream, batch = events_stream
    q = (
        events_ops.funnel_firsts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_firsts_out")
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.sql(
        "SELECT user_id, MIN(_t0) AS _t0, MIN(_t1) AS _t1, MIN(_t2) AS _t2 "
        "FROM funnel_firsts_out GROUP BY user_id"
    )
    firsts = lambda df: {r["user_id"]: tuple(r)[1:] for r in df.collect()}
    got_firsts = firsts(state)
    assert got_firsts == firsts(events_ops.funnel_firsts(batch)) and got_firsts
    key = lambda df: sorted(tuple(r) for r in df.collect())
    got = key(events_ops.funnel_from_firsts(state))
    want = key(QUERIES["conversion_funnel"](spark, SF))
    assert got == want and len(got) == 3 and got[0][2] > 0


def test_cohort_retention_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """``events.user_day_activity`` run as an update-mode stream,
    replayed to completion and fed through
    ``events.retention_from_activity``, equals the batch
    cohort_retention query row for row. Update mode may emit a (user, day) key several
    times as its count grows; only the key set feeds retention, so
    DISTINCT over the sink recovers the final state."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    stream, batch = events_stream
    q = (
        events_ops.user_day_activity(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("uda_out")
        .option("checkpointLocation", str(tmp_path / "ck_uda"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # localCheckpoint: the retention derivation self-joins the state,
    # and the memory sink's MemoryPlan cannot deduplicate attributes
    # across self-join branches (no MultiInstanceRelation); a
    # checkpointed LogicalRDD can
    state = spark.sql(
        "SELECT DISTINCT user_id, active_day FROM uda_out"
    ).localCheckpoint()
    got = {
        (r["cohort"], r["week_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_pct"],
        )
        for r in events_ops.retention_from_activity(state, max_weeks=8).collect()
    }
    expected = {
        (r["cohort"], r["week_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_pct"],
        )
        for r in QUERIES["cohort_retention"](spark, SF).collect()
    }
    assert got == expected and got


def test_daily_anomalies_streaming_converges_to_batch(spark, events_stream, tmp_path):
    """``events.daily_value_rollup`` streamed to completion in complete
    mode and fed through anomalies_from_daily equals the batch
    daily_anomalies query row for row — the monitoring twin: the
    stream maintains the rollup, each evaluation is a batch pass over
    the tiny state table."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    stream, batch = events_stream
    q = (
        events_ops.daily_value_rollup(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("daily_rollup_out")
        .option("checkpointLocation", str(tmp_path / "ck_dr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.sql("SELECT * FROM daily_rollup_out").localCheckpoint()
    got = {
        (r["event_type"], r["day"]): (
            r["day_value"], r["z_score"], r["is_anomaly"],
        )
        for r in events_ops.anomalies_from_daily(state, z_thresh=2.0).collect()
    }
    expected = {
        (r["event_type"], r["day"]): (
            r["day_value"], r["z_score"], r["is_anomaly"],
        )
        for r in QUERIES["daily_anomalies"](spark, SF).collect()
    }
    assert got == expected and got


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """The ingestion-time dedup gate replayed to completion converges
    to the batch incremental_dedup at FINGERPRINT grain: one emitted
    row per distinct delta fingerprint, dup_of_snapshot exactly where
    the batch operator says the content already exists, 'new'
    elsewhere — with planted within-delta duplicates collapsing to a
    single survivor (which copy survives is arrival order, so parity
    is asserted on the fingerprint, not the doc_id)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        incremental_dedup_stream,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"]
    delta_base = docs.filter(F.col("doc_id") % 3 == 0)
    planted = delta_base.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    # ... and snapshot-content copies, so the dup_of_snapshot class is
    # exercised (the synthetic corpus has no natural cross-split dups)
    planted_snap = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .limit(4)
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
    )
    delta = delta_base.unionByName(planted).unionByName(planted_snap)
    snapshot = dedup.exact_dedup(
        docs.filter(F.col("doc_id") % 3 != 0)
    ).select("fingerprint")

    batch_rows = dedup.incremental_dedup(delta, snapshot).collect()
    expected = {}
    for r in batch_rows:
        fp = r["fingerprint"]
        expected[fp] = (
            "dup_of_snapshot"
            if r["status"] == "dup_of_snapshot"
            else expected.get(fp, "new")
        )

    src = str(tmp_path / "delta_docs")
    with_ts = delta.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )
    with_ts.write.parquet(src)
    stream = spark.readStream.schema(with_ts.schema).parquet(src)
    q = (
        incremental_dedup_stream(stream, snapshot)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("incdedup_out")
        .option("checkpointLocation", str(tmp_path / "ck_incdedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = spark.sql(
        "SELECT doc_id, fingerprint, status FROM incdedup_out"
    ).collect()
    got = {r["fingerprint"]: r["status"] for r in got_rows}
    # one survivor per distinct fingerprint, statuses agree with batch
    assert len(got_rows) == len(got)
    assert got == expected and got
    assert "dup_of_snapshot" in set(got.values())
    # the planted copies collapsed: fewer emitted rows than delta rows
    assert len(got_rows) < delta.count()


def test_streaming_bm25_index_matches_batch(spark, tmp_path):
    """The incrementally-maintained retrieval index: stream documents
    into the (doc, term, tf) update-mode state, derive BM25 from the
    final state, and get the scan-based bm25_topk ranking ROW-EXACT
    (same decimal contribution sums, same tie-breaks) — search-index
    maintenance without a reindex step."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        text.doc_term_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("bm25_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_bm25"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink keeps every update; counts only grow → max per key
    # recovers the final state. Snapshot it to parquet before scoring
    # — exactly what a deployment does (the index state lands in the
    # zone per epoch), and it gives the scorer's self-joins a clean
    # relation instead of a memory-view lineage.
    snap = str(tmp_path / "bm25_state_snapshot")
    spark.sql(
        "SELECT doc_id, term, MAX(tf) AS tf FROM bm25_state_out "
        "GROUP BY doc_id, term"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    terms = ["spark", "merge", "vector"]
    got = [
        (r["bm25_rank"], r["doc_id"], r["bm25_score"], r["n_terms_matched"])
        for r in text.bm25_from_term_state(state, terms, k=10).collect()
    ]
    want = [
        (r["bm25_rank"], r["doc_id"], r["bm25_score"], r["n_terms_matched"])
        for r in text.bm25_topk(docs, terms, k=10).collect()
    ]
    assert got == want and len(got) == 10


def test_streaming_lm_perplexity_matches_batch(spark, tmp_path):
    """One streamed state, two consumers: the SAME (doc, term, tf)
    update-mode state that serves the BM25 index also scores the
    unigram-LM perplexity filter — full-replay parity vs the
    scan-based lm_perplexity must be row-exact (identical plan after
    the tf grain)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        text.doc_term_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("lm_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_lm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "lm_state_snapshot")
    spark.sql(
        "SELECT doc_id, term, MAX(tf) AS tf FROM lm_state_out "
        "GROUP BY doc_id, term"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in text.lm_perplexity_from_term_state(state).collect()
    }
    want = {
        r["doc_id"]: tuple(r)[1:]
        for r in text.lm_perplexity(docs).collect()
    }
    assert got == want and len(got) == docs.count()


def test_streaming_mixture_weights_matches_batch(spark, tmp_path):
    """Mixture rebalancing off live ingest state: stream documents
    into the per-stratum count aggregate, derive temperature-scaled
    mixture weights from the final state, and match the scan-based
    mixture_weights row-exact."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "source"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, source string").parquet(src)
    q = (
        curation.stratum_counts(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mix_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_mix"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.sql(
        "SELECT stratum, MAX(n_docs) AS n_docs FROM mix_state_out "
        "GROUP BY stratum"
    )
    got = {
        r["stratum"]: tuple(r)[1:]
        for r in curation.mixture_weights_from_counts(state, alpha=0.3).collect()
    }
    want = {
        r["stratum"]: tuple(r)[1:]
        for r in curation.mixture_weights(docs, alpha=0.3).collect()
    }
    assert got == want and len(got) > 1


def test_streaming_dsir_state_matches_batch(spark, tmp_path):
    """One streamed hashed-ngram feature state, selector derived from
    it: stream documents into the (doc_id, bucket, c_doc) update-mode
    state, derive DSIR importance ranks from the final state with a
    pinned target model, and get the scan-based
    dsir_importance_weights output ROW-EXACT — quality-targeted data
    selection over live ingest state, no corpus re-scan."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )
    from pyspark.sql import functions as F

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text", "source"
    )
    target = docs.filter(F.col("source").isin("src0", "src1"))
    tgt_model = (
        curation.hashed_ngram_features(target, "doc_id", 512)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    src = str(tmp_path / "dsir_src")
    docs.select("doc_id", "text").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        curation.doc_feature_counts(stream, n_buckets=512)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dsir_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_dsir"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "dsir_state_snapshot")
    spark.sql(
        "SELECT doc_id, bucket, MAX(c_doc) AS c_doc FROM dsir_state_out "
        "GROUP BY doc_id, bucket"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    got = [
        tuple(r)
        for r in curation.dsir_from_feature_state(
            state, tgt_model, n_buckets=512, k=20
        ).orderBy("sel_rank").collect()
    ]
    want = [
        tuple(r)
        for r in curation.dsir_importance_weights(
            docs.select("doc_id", "text"), target, n_buckets=512, k=20
        ).orderBy("sel_rank").collect()
    ]
    assert got == want and len(got) > 0


def test_streaming_ngram_novelty_state_matches_batch(spark, tmp_path):
    """Stream documents into the (doc_id, shingle-hash, tf)
    update-mode state and derive the duplicated-n-gram audit from the
    final state: row-exact vs the scan-based ngram_novelty — the
    before/after dedup metric maintained by ingest, not re-shingling."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "nov_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        text.doc_shingle_counts(stream, n=5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("novelty_state_out")
        .option("checkpointLocation", str(tmp_path / "ck_nov"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "nov_state_snapshot")
    spark.sql(
        "SELECT doc_id, _h, MAX(_tf) AS _tf FROM novelty_state_out "
        "GROUP BY doc_id, _h"
    ).write.parquet(snap)
    state = spark.read.parquet(snap)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    got = key(text.ngram_novelty_from_shingle_state(state, threshold=0.5))
    want = key(text.ngram_novelty(docs, n=5, threshold=0.5))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streaming_funnel_replay_parity(spark, tmp_path):
    """VERDICT r7 #8 — the streaming curation-funnel twin: flags flow
    as a stateless append stream, the survivor-scoped keeper as an
    update-mode min aggregate, novelty from the streamed shingle
    state; curation_funnel_from_state over the replayed states equals
    the batch curation_funnel at stage grain, with zero corpus scans
    in the derivation."""
    import re

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        curation,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.windows import (
        fingerprint_keeper_streaming,
    )

    docs = load_testdata(spark, SF, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "funnel_src")
    docs.write.parquet(src)
    stream = lambda: spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)

    flags_q = (
        curation.doc_curation_flags(stream(), quality_threshold=0.5)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_flags_out")
        .option("checkpointLocation", str(tmp_path / "ck_flags"))
        .trigger(availableNow=True)
        .start()
    )
    keeper_q = (
        fingerprint_keeper_streaming(
            curation.doc_curation_flags(stream(), quality_threshold=0.5)
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_keeper_out")
        .option("checkpointLocation", str(tmp_path / "ck_keeper"))
        .trigger(availableNow=True)
        .start()
    )
    shingle_q = (
        text.doc_shingle_counts(stream(), n=5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_shingle_out")
        .option("checkpointLocation", str(tmp_path / "ck_fsh"))
        .trigger(availableNow=True)
        .start()
    )
    for q in (flags_q, keeper_q, shingle_q):
        q.awaitTermination()

    # snapshot each state to parquet (the zone form; also avoids
    # memory-sink self-join attribute conflicts in the derivation)
    spark.table("funnel_flags_out").write.parquet(
        str(tmp_path / "snap_flags")
    )
    # keeper snapshot: min ignoring the pre-survivor NULL updates
    spark.sql(
        "SELECT _fp, MIN(keep_id) AS keep_id FROM funnel_keeper_out "
        "GROUP BY _fp"
    ).write.parquet(str(tmp_path / "snap_keeper"))
    spark.sql(
        "SELECT doc_id, _h, MAX(_tf) AS _tf FROM funnel_shingle_out "
        "GROUP BY doc_id, _h"
    ).write.parquet(str(tmp_path / "snap_shingle"))
    flags = spark.read.parquet(str(tmp_path / "snap_flags"))
    keeper = spark.read.parquet(str(tmp_path / "snap_keeper"))
    shingle = spark.read.parquet(str(tmp_path / "snap_shingle"))
    live = curation.curation_funnel_from_state(
        flags, keeper, shingle, novelty_threshold=0.5
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    want = curation.curation_funnel(
        docs, quality_threshold=0.5, novelty_threshold=0.5, ngram_n=5
    )
    assert key(live) == key(want)
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"FileScan parquet[^\n]*documents", plan)
