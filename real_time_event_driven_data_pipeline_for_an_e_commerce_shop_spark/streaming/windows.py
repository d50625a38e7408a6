"""Watermarked event-time operators — the streaming surface the
reference lacks entirely (SURVEY.md §2.7 "absent" row), built on the
``events`` stream shape (event_id, ts, user_id, event_type, value).

Only operators whose streaming form differs from the batch one
(watermarks, session windows, stream-static joins, within-watermark
dedup) live here. Every incremental state grain
(``events.funnel_firsts``, ``events.user_day_activity``,
``events.daily_value_rollup``, ``text.doc_term_counts``,
``text.doc_shingle_counts``, ``curation.stratum_counts``,
``curation.doc_feature_counts``, ``corpus_state.token_event_counts``)
has one definition in ``operators/``, which a stream calls unchanged
as an update- or complete-mode aggregate.

* :func:`watermarked_daily_rollup` — tumbling 1-day windows with a
  late-data watermark; append mode emits a day once the watermark
  passes its end. The streaming twin of ``operators.events.
  daily_event_rollup`` (same aggregates, same column names).
* :func:`sessionized_stream` — native ``session_window`` with
  watermark: state is bounded by (users × open sessions), merged by
  Spark's session-merge state store operator. The streaming twin of
  ``operators.events.sessionize``.

Exact ``countDistinct`` is not incrementally mergeable in append mode
(SURVEY.md §7 trap 8), so the rollup uses ``approx_count_distinct``
(HLL) for ``unique_users`` — the deliberate, documented divergence
from the batch twin; at 100 TB/day the exact count would need a
shuffle per update anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import exact_sum


def watermarked_daily_rollup(
    events_stream: DataFrame,
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """Per-(day, type) counts/sums over an event stream, late data
    tolerated up to ``watermark``."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_unique_users"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("event_date"),
            "event_type",
            "n_events",
            "total_value",
            "approx_unique_users",
        )
    )


def dedup_events_stream(
    events_stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keyed exactly-once event dedup with BOUNDED state.

    The reference's ingestion is at-least-once: its Lambda trigger
    (``/root/reference/Task_2/lambda_trigger.py``) fires per S3 object
    and a re-uploaded or retried object re-delivers every row in it.
    The file-level guard is run-once checkpointing
    (``streaming/pipeline.py``); this is the row-level guard — the
    first arrival of each key passes, any duplicate arriving within
    ``watermark`` of it is dropped, and the key's dedup state is
    evicted once the event-time watermark passes, so state is bounded
    by keys-per-watermark-window, not by stream history.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is
    the scale-correct choice: plain streaming dropDuplicates keeps
    every key seen forever (state grows without bound on an unbounded
    stream); the within-watermark variant is exactly-once for any
    duplicate that arrives within the lateness bound — which is the
    delivery-retry window in practice — at O(open keys) state.
    """
    return events_stream.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(list(keys))


def sessionized_stream(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via the native session-merge operator."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )


def interval_joined_events_stream(
    events_stream: DataFrame,
    orders: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """Streaming twin of the batch interval join (`events_order_window`):
    each arriving event is enriched with every order the same user
    placed in the preceding ``window_days`` days — a stream-static join
    against the orders zone.

    STATELESS by construction: the day-bucket replication happens on
    the STATIC side (``operators.asof.interval_join_days`` replicates
    orders ×``window_days``), so the stream side needs no watermark and
    Spark keeps no join state — the static side is re-read (and its
    replication re-planned) per micro-batch, which also means newly
    landed orders are visible to the next batch. Contrast with a
    stream-stream range join, which would hold ``window_days`` of BOTH
    sides in state stores.

    Left-outer: events with no order in window pass through with null
    order columns, so downstream per-event aggregation sees every
    event exactly once (each event lives in exactly one micro-batch).
    """
    from ..operators import asof

    left = events_stream.select("event_id", "user_id", "ts")
    right = orders.select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    return asof.interval_join_days(
        left, right, key="user_id", left_time="ts",
        right_date="o_orderdate", window_days=window_days, how="left",
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    snapshot_fingerprints: DataFrame,
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming half of ``operators.dedup.incremental_dedup`` — the
    INGESTION-TIME dedup gate: documents stream in, each is hashed
    (same normalized-md5 fingerprint as the batch operator), checked
    against the static snapshot of the already-retained corpus, and
    deduplicated within the stream itself.

    Composition of two Spark-native pieces, no custom state:

    * within-stream dups → ``dropDuplicatesWithinWatermark`` on the
      fingerprint (bounded state: open fingerprints inside the
      lateness window — the delivery-retry horizon, not history; the
      FIRST arrival wins, matching the batch min-id keeper under
      arrival order);
    * corpus dups → a STREAM-STATIC left join against the snapshot
      fingerprint set (Spark re-plans the static side per micro-batch;
      at 100 TB the static side is the big table and the per-batch
      probe is the small one — the same bloom-prunable asymmetry as
      the batch operator, and a broadcast of the batch's fingerprints
      when the optimizer sees the sizes).

    Emits (doc_id, fingerprint, status) with status ∈
    {'new', 'dup_of_snapshot'} — 'dup_in_delta' rows are DROPPED (the
    gate's job), which is the one deliberate divergence from the batch
    operator's audit-style output; convergence of the retained set is
    asserted by full-replay parity in tests/test_streaming.py.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    hashed = docs_stream.select(
        "doc_id",
        F.col(event_time_col),
        F.md5(norm.cast("binary")).alias("fingerprint"),
    )
    first_seen = hashed.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(["fingerprint"])
    snap = snapshot_fingerprints.select("fingerprint").distinct().withColumn(
        "_in_snap", F.lit(True)
    )
    return first_seen.join(snap, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.when(F.col("_in_snap").isNotNull(), F.lit("dup_of_snapshot"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )


def fingerprint_keeper_streaming(flags_stream: DataFrame) -> DataFrame:
    """The funnel's exact-dedup keeper as an update-mode streaming
    aggregate over the flag feed (``operators.curation.
    doc_curation_flags`` applied to the document stream, stateless):
    per fingerprint, the min doc_id AMONG QUALITY SURVIVORS (the
    survivor-scoped keeper rule). Min over an insert-only stream is
    mergeable and monotone, so state is one row per distinct
    fingerprint and each arriving doc updates at most its own group.
    ``operators.curation.curation_funnel_from_state`` derives the live
    funnel report from this state + the flag feed + the shingle state
    (full-replay parity asserted row-exact)."""
    return flags_stream.groupBy("_fp").agg(
        F.min(F.when(F.col("_q"), F.col("doc_id"))).alias("keep_id")
    )
