"""Streaming ingest into the bucketed validated zone (ROADMAP #2):
micro-batches land `bucketBy(order_id)` as atomically-committed epochs
so downstream fact⋈fact joins over the streamed zone run Exchange-free
— the streaming half of the batch pipeline's
``validated_layout="bucketed"``."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    read_manifest_zone,
    run_bucketed_ingest_manifest,
)

from test_streaming import ITEMS1_CSV, ITEMS2_CSV, ORDERS_CSV, _write

# order 4 arrives in the second upload batch, with its item
ORDERS2_CSV = """order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item
4,103,delivered,2025-03-10T08:00:00,,2025-03-10T10:00:00,2025-03-11T09:00:00,1
"""

ITEMS3_CSV = """id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price
14,4,103,1,delivered,2025-03-10T08:00:00,2025-03-10T10:00:00,2025-03-11T09:00:00,,10.0
15,999,999,1,delivered,2025-03-10T08:00:00,,,,10.0
"""


def test_streamed_zone_lands_bucketed_and_joins_exchange_free(spark, tmp_path):
    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)

    prefix = "streamed_zone_test_"

    def ingest():
        return run_bucketed_ingest_manifest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )

    try:
        tables = ingest()
        z = read_manifest_zone(spark, tables, zone)
        assert z["orders"].count() == 3 and z["order_items"].count() == 4

        # second upload batch: order 4 + its item; item 15 references a
        # nonexistent order and must be dropped by the stream-static
        # referential check against the zone's own orders table
        _write(f"{raw}/orders/part2.csv", ORDERS2_CSV)
        _write(f"{raw}/order_items/part3.csv", ITEMS3_CSV)
        ingest()
        z = read_manifest_zone(spark, tables, zone)
        assert z["orders"].count() == 4
        assert z["order_items"].count() == 5
        assert z["order_items"].filter(F.col("order_id") == 999).count() == 0

        # exactly-once across restarts: re-running with no new files
        # lands nothing
        ingest()
        assert read_manifest_zone(spark, tables, zone)[
            "order_items"
        ].count() == 5

        # the whole point: the streamed zone join is Exchange-free even
        # after several epochs per table (multiple file sets per bucket
        # — Spark re-sorts within buckets, never re-shuffles)
        z = read_manifest_zone(spark, tables, zone)
        joined = (
            z["order_items"]
            .select("order_id", "id", "sale_price")
            .hint("merge")
            .join(z["orders"].select("order_id", "user_id"), "order_id")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 5

        # bucket files actually landed under the zone dir
        assert os.path.isdir(os.path.join(zone, "orders"))
        assert os.path.isdir(os.path.join(zone, "order_items"))
    finally:
        for t in (f"{prefix}orders", f"{prefix}order_items"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_manifest_zone_exactly_once_and_crash_replay(spark, tmp_path):
    """Epoch manifest (ROADMAP r5 #1): micro-batches land as
    atomically-committed `_epoch` partitions. Steady-state reads are
    bare bucketed scans (no dedup aggregate, Exchange-free joins); a
    crash between append and commit leaves an orphan partition that
    readers prune and the replay scrubs — never duplicate rows."""
    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _land_epoch,
        _Zone,
        committed_epochs,
        read_manifest_zone,
        run_bucketed_ingest_manifest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    _write(f"{raw}/orders/part1.csv", ORDERS_CSV)
    _write(f"{raw}/order_items/part1.csv", ITEMS1_CSV)
    _write(f"{raw}/order_items/part2.csv", ITEMS2_CSV)

    prefix = "manifest_zone_test_"
    try:
        tables = run_bucketed_ingest_manifest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        z = read_manifest_zone(spark, tables, zone)
        assert z["orders"].count() == 3 and z["order_items"].count() == 4

        # steady state: no orphans → the read IS the table (no filter,
        # no dedup) and the co-bucketed join is Exchange-free
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = (
                z["order_items"].select("order_id", "id", "sale_price")
                .join(z["orders"].select("order_id", "user_id"), "order_id")
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 4
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # checkpoint replay with no new files: nothing lands twice
        run_bucketed_ingest_manifest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        assert read_manifest_zone(spark, tables, zone)[
            "order_items"
        ].count() == 4

        # crash simulation: epoch 999's files land but the commit
        # marker never gets written
        extra = spark.createDataFrame(
            [(90, 1, 101, 7.5), (91, 2, 102, 2.5)],
            "id long, order_id long, user_id long, sale_price double",
        )
        base = spark.table(tables["order_items"]).drop("_epoch")
        aligned = extra.select(
            *[
                (
                    F.col(f.name)
                    if f.name in extra.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in base.schema
            ]
        ).withColumn("_epoch", F.lit(999))
        (
            aligned.write.format("parquet")
            .partitionBy("_epoch")
            .bucketBy(4, "order_id")
            .sortBy("order_id")
            .option("path", f"{zone}/order_items")
            .mode("append")
            .saveAsTable(tables["order_items"])
        )
        spark.catalog.refreshTable(tables["order_items"])
        # the raw table now holds the orphan rows…
        assert spark.table(tables["order_items"]).count() == 6
        # …but the manifest read prunes them (uncommitted epoch)
        assert read_manifest_zone(spark, tables, zone)[
            "order_items"
        ].count() == 4

        # restart replays epoch 999: the orphan partition is scrubbed
        # before re-append, so the rows land exactly once
        _land_epoch(
            spark, aligned.drop("_epoch"),
            _Zone("order_items", tables["order_items"], zone, 4, "order_id"), 999,
        )
        assert 999 in committed_epochs(zone, "order_items")
        landed = read_manifest_zone(spark, tables, zone)["order_items"]
        assert landed.count() == 6
        assert landed.filter(F.col("id").isin(90, 91)).count() == 2

        # a second replay of the now-committed epoch is a no-op
        _land_epoch(
            spark, aligned.drop("_epoch"),
            _Zone("order_items", tables["order_items"], zone, 4, "order_id"), 999,
        )
        assert read_manifest_zone(spark, tables, zone)[
            "order_items"
        ].count() == 6
    finally:
        for t in (f"{prefix}orders", f"{prefix}order_items"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_manifest_zone_compaction(spark, tmp_path):
    """compact_manifest_zone folds committed epochs into one, drops
    crash orphans during the rewrite, resets the manifest, keeps the
    bucket spec (Exchange-free joins survive), and later epochs append
    into the compacted table's NEW location correctly."""
    import glob
    import os

    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _land_epoch,
        _Zone,
        committed_epochs,
        compact_manifest_zone,
        read_manifest_zone,
    )

    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    prefix = "manifest_compact_test_"
    orders_tbl = f"{prefix}orders"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {orders_tbl}")
        mk = lambda rows: spark.createDataFrame(
            rows, "order_id long, order_date string"
        )
        # three committed epochs
        for ep, rows in (
            (0, [(1, "2025-03-08"), (2, "2025-03-08")]),
            (1, [(3, "2025-03-09")]),
            (2, [(4, "2025-03-09"), (5, "2025-03-10")]),
        ):
            _land_epoch(
                spark, mk(rows),
                _Zone("orders", orders_tbl, zone, 4, "order_id"), ep,
            )
        # plus one crash orphan (files, no marker)
        (
            mk([(99, "2025-03-11")]).withColumn("_epoch", F.lit(7))
            .write.format("parquet").partitionBy("_epoch")
            .bucketBy(4, "order_id").sortBy("order_id")
            .mode("append").saveAsTable(orders_tbl)
        )
        spark.catalog.refreshTable(orders_tbl)
        assert spark.table(orders_tbl).count() == 6

        new_dir = compact_manifest_zone(
            spark, orders_tbl, zone, "orders", n_buckets=4
        )
        # one epoch partition, orphan gone, manifest reset to max(committed)
        assert committed_epochs(zone, "orders") == {2}
        assert sorted(
            e for e in os.listdir(new_dir) if e.startswith("_epoch=")
        ) == ["_epoch=2"]
        # the per-epoch file sets collapse to at most one file per bucket
        n_files_after = len(glob.glob(f"{new_dir}/_epoch=*/part-*.parquet"))
        assert n_files_after <= 4, n_files_after
        compacted = read_manifest_zone(
            spark, {"orders": orders_tbl}, zone
        )["orders"]
        assert sorted(
            r["order_id"] for r in compacted.collect()
        ) == [1, 2, 3, 4, 5]

        # post-compaction epochs append into the NEW location
        _land_epoch(
            spark, mk([(6, "2025-03-12")]),
            _Zone("orders", orders_tbl, zone, 4, "order_id"), 3,
        )
        assert committed_epochs(zone, "orders") == {2, 3}
        assert os.path.isdir(os.path.join(new_dir, "_epoch=3"))
        after = read_manifest_zone(spark, {"orders": orders_tbl}, zone)[
            "orders"
        ]
        assert after.count() == 6

        # bucket metadata survived the rewrite: self-join Exchange-free
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            a = after.select("order_id", "order_date")
            b = after.select("order_id", F.col("order_date").alias("d2"))
            plan = (
                a.join(b, "order_id")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {orders_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {orders_tbl}__compacting")


def test_manifest_commit_fn_is_injectable(spark, tmp_path):
    """The manifest commit primitive is the one storage-specific seam
    (POSIX rename here; conditional PUT on an object store): a custom
    commit_fn is called once per landed epoch with the full contract
    args, and skip-on-replay consults what it published."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _commit_epoch,
        _land_epoch,
        _Zone,
        committed_epochs,
    )

    zone = str(tmp_path / "zone")
    table = "commitfn_test_orders"
    calls = []

    def recording_commit(zone_dir, name, epoch_id, n_rows):
        calls.append((name, epoch_id, n_rows))
        _commit_epoch(zone_dir, name, epoch_id, n_rows)

    df = spark.createDataFrame(
        [(1, "2025-03-08"), (2, "2025-03-09")],
        "order_id long, order_date string",
    )
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        for _ in range(2):  # second call = replay of a committed epoch
            _land_epoch(
                spark, df,
                _Zone("orders", table, zone, 4, "order_id"), 0, commit_fn=recording_commit,
            )
        assert calls == [("orders", 0, 2)]  # exactly once, full args
        assert committed_epochs(zone, "orders") == {0}
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_manifest_zone_snapshot_read(spark, tmp_path):
    """as_of_epoch reproduces exactly the zone a reader saw when that
    epoch was the tip — the time-travel half of the commit log — and
    the snapshot filter partition-prunes newer epochs rather than
    scanning and discarding them."""
    import os

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _land_epoch,
        _Zone,
        read_manifest_zone,
    )

    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    table = "manifest_snapshot_test_orders"
    mk = lambda rows: spark.createDataFrame(
        rows, "order_id long, order_date string"
    )
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        for ep, rows in (
            (0, [(1, "2025-03-08")]),
            (1, [(2, "2025-03-09")]),
            (2, [(3, "2025-03-10")]),
        ):
            _land_epoch(
                spark, mk(rows),
                _Zone("orders", table, zone, 4, "order_id"), ep,
            )
        snap = read_manifest_zone(
            spark, {"orders": table}, zone, as_of_epoch=1
        )["orders"]
        assert sorted(r["order_id"] for r in snap.collect()) == [1, 2]
        # newer epoch directories are pruned at planning, not scanned
        scan = snap._jdf.queryExecution().executedPlan().toString()
        assert "_epoch=2" not in scan
        full = read_manifest_zone(spark, {"orders": table}, zone)["orders"]
        assert full.count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_corpus_ingest_dedup_manifest_end_to_end(spark, tmp_path):
    """Deduplicating corpus ingest: batch-internal dups collapse to
    the min-id keeper, later batches drop content the committed zone
    already holds, re-running with no new data is a no-op, and the
    zone never contains two rows with the same fingerprint."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_corpus_gate_"
    table = f"{prefix}documents"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        b1 = spark.createDataFrame(
            [
                (1, "alpha beta gamma"),
                (2, "delta epsilon zeta"),
                (3, "Alpha  BETA gamma"),   # in-batch dup of 1 (normalized)
            ],
            "doc_id long, text string",
        )
        b1.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, exact_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_df = read_manifest_zone(spark, {"documents": table}, zone)[
            "documents"
        ]
        assert {r["doc_id"] for r in zone_df.collect()} == {1, 2}

        b2 = spark.createDataFrame(
            [
                (4, "delta epsilon zeta"),  # corpus dup of 2
                (5, "eta theta iota"),      # new
            ],
            "doc_id long, text string",
        )
        b2.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, exact_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_df = read_manifest_zone(spark, {"documents": table}, zone)[
            "documents"
        ]
        assert {r["doc_id"] for r in zone_df.collect()} == {1, 2, 5}

        # idempotent: third run with nothing new changes nothing
        run_corpus_ingest(
            spark, raw, zone, ckpt, exact_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_df = read_manifest_zone(spark, {"documents": table}, zone)[
            "documents"
        ]
        rows = zone_df.collect()
        assert {r["doc_id"] for r in rows} == {1, 2, 5}
        # fingerprint uniqueness — THE invariant of the gated zone
        fp = F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
            ).cast("binary")
        )
        n_fp = zone_df.select(fp.alias("f")).distinct().count()
        assert n_fp == len(rows) == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_corpus_ingest_decontaminate_gate(spark, tmp_path):
    """The ingest-time decontamination gate: arriving docs are
    span-cleaned against the probe set BEFORE landing (and before the
    dedup fingerprint), so (a) contaminated spans never reach disk,
    (b) untouched docs land byte-for-byte, (c) a fully-contaminated
    doc drops, (d) two docs that differ ONLY by a contaminated span
    collapse in the exact-dedup gate — the gate-order payoff a
    post-hoc rewrite cannot give — (e) replay is a no-op, and (f) a
    doc whose ORIGINAL text is already empty was never touched by the
    surgery (n_removed=0) and lands byte-for-byte rather than being
    mistaken for an emptied-by-surgery drop (ADVICE r14)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_decontam_gate_"
    table = f"{prefix}documents"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    probes = spark.createDataFrame(
        [("the leaked eval answer text",)], "probe string"
    )
    try:
        b1 = spark.createDataFrame(
            [
                # contaminated mid-doc; survives cleaned
                (1, "intro words the leaked eval answer text outro"),
                # clean doc; must land byte-for-byte (double space kept)
                (2, "perfectly clean  prose here"),
                # fully contaminated; must drop
                (3, "the leaked eval answer text"),
                # differs from 1 ONLY by the contaminated span's case —
                # after cleaning it is an exact dup of 1 and must drop
                (4, "intro words THE LEAKED EVAL ANSWER TEXT outro"),
                # ORIGINALLY empty: surgery never touches it
                # (n_removed=0), must land byte-for-byte
                (5, ""),
            ],
            "doc_id long, text string",
        )
        b1.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            decontaminate_probes=probes, exact_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        landed = {
            r["doc_id"]: r["text"]
            for r in read_manifest_zone(spark, {"documents": table}, zone)[
                "documents"
            ].collect()
        }
        assert set(landed) == {1, 2, 5}
        assert landed[1] == "intro words outro"
        assert landed[2] == "perfectly clean  prose here"
        assert landed[5] == ""

        # replay with nothing new: no-op
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            decontaminate_probes=probes, exact_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        again = read_manifest_zone(spark, {"documents": table}, zone)[
            "documents"
        ]
        assert {r["doc_id"] for r in again.collect()} == {1, 2, 5}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_manifest_zone_vacuum(spark, tmp_path):
    """vacuum_manifest_zone — the retention-guarded file reaper: young
    directories survive (a live writer's in-flight epoch looks like an
    orphan until its marker lands), aged crash orphans and superseded
    data generations are reaped, the current snapshot never changes,
    and the manifest/catalog are untouched."""
    import os

    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _land_epoch,
        _Zone,
        committed_epochs,
        compact_manifest_zone,
        read_manifest_zone,
        vacuum_manifest_zone,
    )

    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    tbl = "manifest_vacuum_test_orders"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        mk = lambda rows: spark.createDataFrame(
            rows, "order_id long, order_date string"
        )
        for ep, rows in ((0, [(1, "2025-03-08")]), (1, [(2, "2025-03-09")])):
            _land_epoch(
                spark, mk(rows),
                _Zone("orders", tbl, zone, 4, "order_id"), ep,
            )
        old_dir = str(tmp_path / "zone" / "orders")

        new_dir = compact_manifest_zone(spark, tbl, zone, "orders", n_buckets=4)
        # a fresh crash orphan in the LIVE location (files, no marker)
        (
            mk([(99, "2025-03-11")]).withColumn("_epoch", F.lit(9))
            .write.format("parquet").partitionBy("_epoch")
            .bucketBy(4, "order_id").sortBy("order_id")
            .mode("append").saveAsTable(tbl)
        )
        spark.catalog.refreshTable(tbl)
        orphan_dir = os.path.join(new_dir, "_epoch=9")
        assert os.path.isdir(orphan_dir) and os.path.isdir(old_dir)

        # retention guard: everything is seconds old — nothing reaped
        guarded = vacuum_manifest_zone(
            spark, tbl, zone, "orders", min_age_seconds=10_000
        )
        assert guarded == {"orphan_epochs": [], "stale_dirs": []}
        assert os.path.isdir(orphan_dir) and os.path.isdir(old_dir)

        # maintenance window (writer stopped): reap everything dead
        reaped = vacuum_manifest_zone(
            spark, tbl, zone, "orders", min_age_seconds=0
        )
        assert not os.path.isdir(orphan_dir)
        assert not os.path.isdir(old_dir)
        assert os.path.isdir(new_dir)  # live location untouched
        assert [os.path.basename(p) for p in reaped["orphan_epochs"]] == [
            "_epoch=9"
        ]
        assert os.path.abspath(old_dir) in reaped["stale_dirs"]
        # snapshot identical after vacuum; manifest untouched
        spark.catalog.refreshTable(tbl)
        got = read_manifest_zone(spark, {"orders": tbl}, zone)["orders"]
        assert sorted(r["order_id"] for r in got.collect()) == [1, 2]
        assert committed_epochs(zone, "orders") == {1}

        # a second compaction strands the first compact dir → reaped next
        _land_epoch(
            spark, mk([(3, "2025-03-12")]),
            _Zone("orders", tbl, zone, 4, "order_id"), 2,
        )
        newer_dir = compact_manifest_zone(spark, tbl, zone, "orders", n_buckets=4)
        reaped2 = vacuum_manifest_zone(
            spark, tbl, zone, "orders", min_age_seconds=0
        )
        assert os.path.abspath(new_dir) in reaped2["stale_dirs"]
        assert not os.path.isdir(new_dir) and os.path.isdir(newer_dir)
        spark.catalog.refreshTable(tbl)
        got2 = read_manifest_zone(spark, {"orders": tbl}, zone)["orders"]
        assert sorted(r["order_id"] for r in got2.collect()) == [1, 2, 3]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")


def test_manifest_zone_vacuum_safety_guards(spark, tmp_path):
    """ADVICE r6 guards: (a) an unresolvable catalog location RAISES
    instead of falling back to zone_dir/name (the fallback could
    delete the live post-compaction snapshot); (b) a sibling zone
    table whose caller-chosen name merely STARTS with
    '{name}_compact_' is not mistaken for a superseded generation —
    only the compactor's exact _compact_<8 hex> suffix is reaped."""
    import os

    import pytest as _pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _land_epoch,
        _Zone,
        vacuum_manifest_zone,
    )

    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    tbl = "manifest_vacuum_guard_orders"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        df = spark.createDataFrame(
            [(1, "2025-03-08")], "order_id long, order_date string"
        )
        _land_epoch(
            spark, df,
            _Zone("orders", tbl, zone, 4, "order_id"), 0,
        )

        # (b) sibling zone tables that LOOK like generations but are not
        for sibling in ("orders_compact_archive", "orders_compact_0"):
            os.makedirs(os.path.join(zone, sibling))
        reaped = vacuum_manifest_zone(
            spark, tbl, zone, "orders", min_age_seconds=0
        )
        assert reaped["stale_dirs"] == []
        for sibling in ("orders_compact_archive", "orders_compact_0"):
            assert os.path.isdir(os.path.join(zone, sibling))

        # (a) unresolvable location (temp view: DESCRIBE FORMATTED has
        # no Location row) -> refuse to reap
        spark.range(1).createOrReplaceTempView("vacuum_guard_view")
        with _pytest.raises(ValueError, match="could not be resolved"):
            vacuum_manifest_zone(
                spark, "vacuum_guard_view", zone, "orders", min_age_seconds=0
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_corpus_semantic_dedup_gate_replay_parity(spark, tmp_path):
    """The SRP-tier streaming dedup gate (VERDICT r6 #6): documents
    streamed in three micro-batches with drop_dups=False must record
    EXACTLY the pair set (and cosines) the batch text->vector->
    semantic-dedup chain finds on the same corpus — a same-bucket
    pair lands via the in-batch self-join if both docs arrived
    together, via the committed-vector-zone probe otherwise. Replay
    of a committed epoch is a no-op (idempotent)."""
    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        embedding_near_dups,
        srp_bucket,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.text import (
        feature_hash_vectors,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_manifest_zone,
        run_corpus_ingest,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 3 == 0)
    )
    vecs = feature_hash_vectors(docs, dim=64).withColumn(
        "block", srp_bucket(F.col("feature_vec"), 64, 8)
    )
    want = {
        (r["vec_a"], r["vec_b"]): r["cosine_sim"]
        for r in embedding_near_dups(
            vecs, threshold=0.8, block_col="block",
            id_col="doc_id", vec_col="feature_vec",
        ).collect()
    }
    assert want  # the corpus slice must actually contain near-dups

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_sem_gate_"
    tables = {}
    try:
        lo, hi = 0, 0
        cuts = [600, 1200, 10**9]
        for cut in cuts:
            chunk = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < cut)
            )
            lo = cut
            chunk.write.mode("append").parquet(raw)
            tables = run_corpus_ingest(
                spark, raw, zone, ckpt, semantic_dedup=True,
                drop_dups=False,
                n_buckets=4, table_prefix=prefix,
            )
        pairs_df = read_manifest_zone(
            spark, {"neardup_pairs": tables["neardup_pairs"]}, zone
        )["neardup_pairs"]
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine_sim"]
            for r in pairs_df.collect()
        }
        assert got == want
        # all docs landed (drop_dups=False) and replay is a no-op
        zone_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        assert zone_docs.count() == docs.count()
        run_corpus_ingest(
            spark, raw, zone, ckpt, semantic_dedup=True,
            drop_dups=False,
            n_buckets=4, table_prefix=prefix,
        )
        assert (
            read_manifest_zone(
                spark, {"neardup_pairs": tables["neardup_pairs"]}, zone
            )["neardup_pairs"].count()
            == len(got)
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_semantic_dedup_gate_drops_bag_of_words_dups(spark, tmp_path):
    """drop_dups=True: a doc whose token MULTISET matches a committed
    doc (identical feature-hash vector, cosine 1.0) is dropped even
    though its exact fingerprint differs (word order) — the semantic
    tier catching what the exact tier cannot; the committed keeper
    and unrelated docs survive."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_sem_drop_"
    tables = {}
    try:
        b1 = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "omicron pi rho sigma tau"),
                # in-batch bag-of-words dup of 1 (reordered tokens)
                (3, "epsilon delta gamma beta alpha"),
            ],
            "doc_id long, text string",
        )
        b1.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt, semantic_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        assert {r["doc_id"] for r in zone_docs.collect()} == {1, 2}

        b2 = spark.createDataFrame(
            [
                # corpus bag-of-words dup of committed doc 2
                (4, "tau sigma rho pi omicron"),
                (5, "upsilon phi chi psi omega"),  # new
            ],
            "doc_id long, text string",
        )
        b2.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, semantic_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        assert {r["doc_id"] for r in zone_docs.collect()} == {1, 2, 5}
        # the vector zone tracks exactly the kept docs
        zone_vecs = read_manifest_zone(
            spark, {"doc_vectors": tables["doc_vectors"]}, zone
        )["doc_vectors"]
        assert {r["doc_id"] for r in zone_vecs.collect()} == {1, 2, 5}
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_semantic_gate_heals_vector_docs_commit_window(spark, tmp_path):
    """Crash between the vector-zone commit and the docs commit: the
    vectors epoch is committed but the docs epoch is not. On replay
    the gate must re-land the docs epoch (vectors/pairs land first and
    are idempotent no-ops under their own manifests) and the zone must
    converge to the same state as an uninterrupted run — the
    self-healing-cache property the land order buys."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        read_manifest_zone,
        run_corpus_ingest,
        _manifest_dir,
        _table_location,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_sem_heal_"
    tables = {}
    try:
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "omicron pi rho sigma tau"),
                (3, "epsilon delta gamma beta alpha"),  # dup of 1
            ],
            "doc_id long, text string",
        )
        docs.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt, semantic_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        zone_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        want_ids = {r["doc_id"] for r in zone_docs.collect()}
        assert want_ids == {1, 2}
        n_pairs = read_manifest_zone(
            spark, {"neardup_pairs": tables["neardup_pairs"]}, zone
        )["neardup_pairs"].count()

        # simulate the crash window: docs epoch 0 uncommitted + its
        # data gone; vectors and pairs epochs stay committed
        os.remove(os.path.join(_manifest_dir(zone, "documents"), "0.json"))
        doc_loc = _table_location(spark, tables["documents"])
        shutil.rmtree(os.path.join(doc_loc, "_epoch=0"))
        spark.catalog.refreshTable(tables["documents"])
        assert committed_epochs(zone, "documents") == set()
        assert committed_epochs(zone, "doc_vectors") == {0}

        # replay: fresh checkpoint redelivers the files as epoch 0
        shutil.rmtree(ckpt)
        run_corpus_ingest(
            spark, raw, zone, ckpt, semantic_dedup=True,
            n_buckets=4, table_prefix=prefix,
        )
        spark.catalog.refreshTable(tables["documents"])
        healed = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        assert {r["doc_id"] for r in healed.collect()} == want_ids
        assert committed_epochs(zone, "documents") == {0}
        # vectors and pairs were idempotent no-ops: still one epoch,
        # same pair count, vector set matches the kept docs
        assert committed_epochs(zone, "doc_vectors") == {0}
        assert (
            read_manifest_zone(
                spark, {"neardup_pairs": tables["neardup_pairs"]}, zone
            )["neardup_pairs"].count()
            == n_pairs
        )
        vec_ids = {
            r["doc_id"]
            for r in read_manifest_zone(
                spark, {"doc_vectors": tables["doc_vectors"]}, zone
            )["doc_vectors"].collect()
        }
        assert vec_ids == want_ids
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_state_refresh_ingest_replay_parity(spark, tmp_path):
    """run_corpus_ingest(state_refresh=True): multi-batch ingest maintains
    the token-event grain incrementally (one tokenize pass per
    epoch); the committed union equals a full batch
    token_event_counts over the landed corpus row-exact, every state
    family derives from it unchanged, and checkpoint re-delivery is
    an idempotent no-op."""
    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        corpus_state,
        text,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_cs_ing_"
    tables = {}
    try:
        base = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        # two delivery waves -> two epochs under one checkpoint
        base.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        base.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert len(committed_epochs(zone, "documents")) >= 2

        zone_tbls = read_manifest_zone(
            spark,
            {"documents": tables["documents"],
             "token_events": tables["token_events"]},
            zone,
        )
        landed_docs = zone_tbls["documents"].select("doc_id", "text")
        grain = zone_tbls["token_events"].select(
            "doc_id", "kind", "s", "h", "h2", "c"
        )
        key = lambda df: sorted(tuple(r) for r in df.collect())
        want = corpus_state.token_event_counts(landed_docs)
        assert key(grain) == key(want) and grain.count() > 0

        # every state family derives from the committed grain
        assert key(
            text.lm_perplexity_from_term_state(
                corpus_state.term_state_from_event_counts(grain)
            )
        ) == key(text.lm_perplexity(landed_docs))

        # idempotent re-delivery: same checkpoint, nothing re-lands
        n_epochs = len(committed_epochs(zone, "token_events"))
        run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert len(committed_epochs(zone, "token_events")) == n_epochs
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_state_refresh_heals_grain_docs_commit_window(spark, tmp_path):
    """Crash between the grain commit and the docs commit: on replay
    (fresh checkpoint redelivering the wave, the same simulation as
    the semantic gate's window test) the grain epoch is an idempotent
    no-op and the docs epoch re-lands from the redelivered batch —
    the zone converges to the uninterrupted-run state."""
    import os
    import shutil

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _manifest_dir,
        _table_location,
        committed_epochs,
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_cs_heal_"
    tables = {}
    try:
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "omicron pi rho sigma tau"),
            ],
            "doc_id long, text string",
        )
        docs.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        key = lambda df: sorted(tuple(r) for r in df.collect())
        grain_before = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select("doc_id", "kind", "s", "h", "h2", "c")
        )

        # crash window: docs epoch 0 uncommitted + its data gone;
        # the grain epoch stays committed
        os.remove(os.path.join(_manifest_dir(zone, "documents"), "0.json"))
        doc_loc = _table_location(spark, tables["documents"])
        shutil.rmtree(os.path.join(doc_loc, "_epoch=0"))
        spark.catalog.refreshTable(tables["documents"])
        assert committed_epochs(zone, "documents") == set()
        assert committed_epochs(zone, "token_events") == {0}

        shutil.rmtree(ckpt)
        run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        spark.catalog.refreshTable(tables["documents"])
        assert committed_epochs(zone, "documents") == {0}
        assert committed_epochs(zone, "token_events") == {0}
        healed = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"]
        assert {r["doc_id"] for r in healed.collect()} == {1, 2}
        grain_after = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select("doc_id", "kind", "s", "h", "h2", "c")
        )
        assert grain_after == grain_before
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_state_grain_composes_with_compaction(spark, tmp_path):
    """ROADMAP r8 #1: the incrementally-maintained token-event grain
    follows the same manifest discipline as the docs tables, so
    compact_manifest_zone folds its accumulated epoch partitions into
    one with no row change — and ingest continues cleanly on top of
    the compacted zone (next epoch lands strictly above the kept
    marker)."""
    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        corpus_state,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        compact_manifest_zone,
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_cs_cmp_"
    tables = {}
    try:
        base = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").limit(60)
        base.filter(F.col("doc_id") % 3 == 0).write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        base.filter(F.col("doc_id") % 3 == 1).write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert len(committed_epochs(zone, "token_events")) >= 2
        key = lambda df: sorted(tuple(r) for r in df.collect())
        grain_cols = ["doc_id", "kind", "s", "h", "h2", "c"]
        before = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select(*grain_cols)
        )

        compact_manifest_zone(
            spark, tables["token_events"], zone, "token_events",
            n_buckets=4, bucket_col="doc_id",
        )
        assert len(committed_epochs(zone, "token_events")) == 1
        after = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select(*grain_cols)
        )
        assert after == before

        # ingest continues on the compacted zone
        base.filter(F.col("doc_id") % 3 == 2).write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        landed_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"].select("doc_id", "text")
        grain = read_manifest_zone(
            spark, {"token_events": tables["token_events"]}, zone
        )["token_events"].select(*grain_cols)
        assert key(grain) == key(corpus_state.token_event_counts(landed_docs))
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semantic_gate_with_token_events_single_tokenize(spark, tmp_path):
    """ROADMAP r8 #2 — the grain-served semantic gate: with
    state_refresh=True the gate's vectors derive from the staged batch
    grain (one tokenize per arriving batch serves BOTH the dedup gate
    and the corpus-state refresh), the kept docs' grain lands as a
    fourth manifest table, dropped near-dups never enter the grain,
    and the dedup decisions are identical to the plain gate."""
    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        corpus_state,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    prefix_a, prefix_b = "t_sg_ev_", "t_sg_plain_"
    tables = {}
    tables_b = {}
    try:
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "omicron pi rho sigma tau upsilon phi chi"),
                (3, "theta eta zeta epsilon delta gamma beta alpha"),  # ~dup 1
                (4, "one two three four five six seven eight"),
            ],
            "doc_id long, text string",
        )
        docs.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, str(tmp_path / "zone_a"), str(tmp_path / "ck_a"),
            semantic_dedup=True, state_refresh=True,
            n_buckets=4, table_prefix=prefix_a,
        )
        tables_b = run_corpus_ingest(
            spark, raw, str(tmp_path / "zone_b"), str(tmp_path / "ck_b"),
            semantic_dedup=True, n_buckets=4, table_prefix=prefix_b,
        )
        zone_a = str(tmp_path / "zone_a")
        kept_a = {
            r["doc_id"]
            for r in read_manifest_zone(
                spark, {"documents": tables["documents"]}, zone_a
            )["documents"].collect()
        }
        kept_b = {
            r["doc_id"]
            for r in read_manifest_zone(
                spark, {"documents": tables_b["documents"]},
                str(tmp_path / "zone_b"),
            )["documents"].collect()
        }
        assert kept_a == kept_b  # identical dedup decisions
        assert committed_epochs(zone_a, "token_events") == {0}

        grain = read_manifest_zone(
            spark, {"token_events": tables["token_events"]}, zone_a
        )["token_events"].select("doc_id", "kind", "s", "h", "h2", "c")
        # grain holds exactly the kept docs' events, row-exact vs the
        # batch derivation over the kept corpus
        key = lambda df: sorted(tuple(r) for r in df.collect())
        kept_docs = docs.join(
            spark.createDataFrame([(i,) for i in kept_a], "doc_id long"),
            "doc_id",
        )
        assert key(grain) == key(corpus_state.token_event_counts(kept_docs))
        # no staging dir left behind
        import os
        assert not [
            d for d in os.listdir(zone_a) if d.startswith("_ev_staging")
        ]
    finally:
        for t in list(tables.values()) + list(tables_b.values()):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_run_corpus_ingest_composes_all_gates(spark, tmp_path):
    """run_corpus_ingest (VERDICT r8 #1): the canonical entry point
    composes the gates — the exact-fingerprint gate drops a
    whitespace/case dup first, the semantic gate drops a bag-of-words
    dup of a survivor next, the token-event grain lands for exactly
    the surviving docs, replay is a no-op, and a stale _ev_staging_*
    dir from a crashed earlier run is swept at stream start
    (ADVICE r8)."""
    import os

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        corpus_state,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_manifest_zone,
        run_corpus_ingest,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_canon_ing_"
    tables = {}
    # a crash in some earlier run left a staging dir behind
    stale = os.path.join(zone, "_ev_staging_777")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "w") as f:
        f.write("x")
    try:
        b1 = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "omicron pi rho sigma tau"),
                (3, "Alpha  beta GAMMA delta epsilon"),  # exact dup of 1
                (4, "epsilon delta gamma beta alpha"),   # bag-of-words dup of 1
                (5, "upsilon phi chi psi omega"),        # new
            ],
            "doc_id long, text string",
        )
        b1.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt,
            exact_dedup=True, semantic_dedup=True, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert not os.path.isdir(stale)  # swept at stream start
        assert set(tables) == {
            "documents", "doc_vectors", "neardup_pairs", "token_events"
        }
        zt = read_manifest_zone(spark, tables, zone)
        kept = {r["doc_id"] for r in zt["documents"].collect()}
        assert kept == {1, 2, 5}
        assert {r["doc_id"] for r in zt["doc_vectors"].collect()} == kept
        pairs = {
            (r["vec_a"], r["vec_b"]) for r in zt["neardup_pairs"].collect()
        }
        assert (1, 4) in pairs  # the semantic gate saw the reorder dup
        # grain == batch grain of exactly the survivors
        grain = zt["token_events"].select("doc_id", "kind", "s", "h", "h2", "c")
        want = corpus_state.token_event_counts(
            zt["documents"].select("doc_id", "text")
        )
        key = lambda df: sorted(tuple(r) for r in df.collect())
        assert key(grain) == key(want)
        assert {r["doc_id"] for r in grain.select("doc_id").distinct().collect()} == kept
        # no staging dir survives the epoch (finally-cleanup)
        assert not any(
            d.startswith("_ev_staging_") for d in os.listdir(zone)
        )

        # replay with nothing new: a no-op
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            exact_dedup=True, semantic_dedup=True, state_refresh=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert {
            r["doc_id"]
            for r in read_manifest_zone(
                spark, {"documents": tables["documents"]}, zone
            )["documents"].collect()
        } == kept
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_grain_zone_composes_with_compaction_and_vacuum(spark, tmp_path):
    """VERDICT r8 #6 / ROADMAP r8 #1: the incremental state-refresh
    ingest accumulates one _epoch partition per micro-batch; the
    kind-partitioned-content grain table must compose with the same
    maintenance path as the docs tables — compact to ONE epoch
    (row-exact), serve an as-of snapshot read, and vacuum the
    superseded generation — because at 100 TB the grain is refreshed
    every epoch and would otherwise drown in small files."""
    import os

    import pyspark.sql.functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        corpus_state,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        compact_manifest_zone,
        read_manifest_zone,
        run_corpus_ingest,
        vacuum_manifest_zone,
    )

    raw = str(tmp_path / "raw")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    prefix = "t_grain_maint_"
    tables = {}
    try:
        base = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").limit(60)
        for m in range(3):  # three delivery waves -> three epochs
            base.filter(F.col("doc_id") % 3 == m).write.mode(
                "append"
            ).parquet(raw)
            tables = run_corpus_ingest(
                spark, raw, zone, ckpt, state_refresh=True,
                n_buckets=4, table_prefix=prefix,
            )
        assert len(committed_epochs(zone, "token_events")) == 3
        grain_cols = ["doc_id", "kind", "s", "h", "h2", "c"]
        key = lambda df: sorted(tuple(r) for r in df.collect())
        before = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select(*grain_cols)
        )
        # an as-of snapshot at epoch 0 sees only the first wave
        asof0 = read_manifest_zone(
            spark, {"token_events": tables["token_events"]}, zone,
            as_of_epoch=0,
        )["token_events"]
        asof0_ids = {r["doc_id"] for r in asof0.select("doc_id").collect()}
        assert asof0_ids == {
            r["doc_id"]
            for r in base.filter(F.col("doc_id") % 3 == 0).collect()
        }

        # compact: one surviving epoch, grain row-exact vs the batch
        # derivation over the landed corpus
        compact_manifest_zone(
            spark, tables["token_events"], zone, "token_events",
            n_buckets=4, bucket_col="doc_id",
        )
        assert len(committed_epochs(zone, "token_events")) == 1
        after = key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select(*grain_cols)
        )
        assert after == before
        landed_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"].select("doc_id", "text")
        assert after == key(
            corpus_state.token_event_counts(landed_docs).select(*grain_cols)
        )

        # vacuum reaps the pre-compaction directory; reads stay green
        reaped = vacuum_manifest_zone(
            spark, tables["token_events"], zone, "token_events",
            min_age_seconds=0,
        )
        assert os.path.join(zone, "token_events") in [
            os.path.abspath(p) for p in reaped["stale_dirs"]
        ]
        assert key(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"].select(*grain_cols)
        ) == before
        # and the derivations still run off the compacted grain
        ts = corpus_state.term_state_from_event_counts(
            read_manifest_zone(
                spark, {"token_events": tables["token_events"]}, zone
            )["token_events"]
        )
        assert ts.count() > 0
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
