"""Watermarked event-time operators — the streaming surface the
reference lacks entirely (SURVEY.md §2.7 "absent" row), built on the
``events`` stream shape (event_id, ts, user_id, event_type, value).

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


def funnel_firsts_streaming(
    events_stream: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming half of ``operators.events.conversion_funnel``:
    update-mode per-user first-occurrence timestamps.

    ``min`` is incrementally mergeable, so the state is exactly
    ``len(steps)`` timestamps per user — bounded, no watermark needed,
    and each micro-batch emits only the users whose firsts changed.
    The 3-row funnel summary is a trivial batch aggregate over this
    compact user-grain table (chaining a second streaming aggregate
    would need append-mode watermarking for no benefit — the state
    table IS the useful product; the reference recomputes everything
    per trigger, task_2.py:271-273).

    Full-replay convergence to the batch pivot is asserted in
    tests/test_streaming.py.
    """
    return events_stream.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(
                f"first_{s}"
            )
            for s in steps
        ]
    )


def user_day_activity_streaming(events_stream: DataFrame) -> DataFrame:
    """Streaming half of ``operators.events.cohort_retention``
    (ROADMAP r5 #3): update-mode per-(user, day) activity counts.

    ``count`` is incrementally mergeable, so the state is exactly one
    row per distinct (user_id, active_day) — the same grain as the
    batch operator's ``distinct`` — and each micro-batch emits only
    the pairs it touched. Like the funnel twin, the state table IS
    the product: retention derives from it in a trivial batch pass
    (:func:`cohort_retention_from_activity`) instead of chaining a
    second stateful aggregate (which would force append-mode
    watermarking and delay results by the watermark).

    At 100 TB: state grows one row per user per active day; a
    deployment bounds it to the analysis horizon with a watermark +
    state TTL (``spark.sql.streaming.stateStore.ttl``) — the
    retention window itself (``max_weeks``) caps what the derivation
    reads. Full-replay convergence to the batch ``cohort_retention``
    query is asserted in tests/test_streaming.py.
    """
    return events_stream.groupBy(
        "user_id", F.to_date("ts").alias("active_day")
    ).agg(F.count(F.lit(1)).alias("n_events"))


def cohort_retention_from_activity(
    activity: DataFrame, max_weeks: int = 8
) -> DataFrame:
    """Batch derivation of the weekly-cohort retention table from the
    (user, day) activity state :func:`user_day_activity_streaming`
    maintains — the same definition as ``operators.events.
    cohort_retention`` (cohort = Monday week of the user's first
    day; retained at offset w = any event in the user's personal
    ``[first+7w, first+7w+7)`` day window), with the first-day
    anchor recovered as ``min(active_day)`` — valid because the
    state table contains every user's first active day by
    construction.
    """
    from pyspark.sql import Window

    from ..functions.core import det_round, ratio

    firsts = activity.groupBy("user_id").agg(
        F.min("active_day").alias("_first_day")
    )
    cohorts = firsts.withColumn(
        "cohort",
        F.date_format(F.date_trunc("week", "_first_day"), "yyyy-MM-dd"),
    )
    offsets = (
        activity.select("user_id", F.col("active_day").alias("_day"))
        .join(cohorts, "user_id")
        .select(
            "cohort",
            "user_id",
            F.floor(F.datediff("_day", "_first_day") / 7).alias(
                "week_offset"
            ),
        )
        .filter(
            (F.col("week_offset") >= 0) & (F.col("week_offset") < max_weeks)
        )
        .distinct()
    )
    agg = offsets.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    wc = Window.partitionBy("cohort")
    sized = agg.withColumn(
        "cohort_size",
        F.max(
            F.when(F.col("week_offset") == 0, F.col("active_users"))
        ).over(wc),
    )
    return sized.select(
        "cohort",
        F.col("week_offset").cast("long").alias("week_offset"),
        "active_users",
        "cohort_size",
        det_round(
            ratio(F.col("active_users"), F.col("cohort_size")), 4
        ).alias("retention_pct"),
    )


def daily_value_rollup_streaming(events_stream: DataFrame) -> DataFrame:
    """Streaming half of ``operators.events.daily_anomalies`` /
    ``daily_trend``: the (event_type, day) total-value rollup as an
    incrementally-merged aggregate — a decimal sum is mergeable, so
    state is one exact sum per (type, day), the same grain both batch
    derivations consume. Run it in complete mode into a small sink (the
    state table is |types| × |days|) and feed the result to
    ``events.anomalies_from_daily`` — the monitoring loop becomes:
    stream maintains the rollup, each evaluation is a millisecond batch
    pass over it. Full-replay parity vs the batch `daily_anomalies`
    query is asserted in tests/test_streaming.py.
    """
    from ..functions.core import exact_sum

    return events_stream.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(exact_sum(F.col("value"), 2).alias("day_value"))


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


def doc_term_counts_streaming(docs_stream: DataFrame) -> DataFrame:
    """Streaming half of the BM25 retrieval index
    (``operators.text.bm25_topk``): the (doc_id, term, tf) grain as an
    incrementally-merged update-mode aggregate — counts are mergeable,
    so state is one row per distinct (doc, term), the exact inverted-
    index grain ``text.bm25_from_term_state`` scores from. The
    ingestion loop becomes: stream maintains term counts, each query
    is a millisecond batch derivation over the state table — the
    search-index maintenance pattern, with no reindex-the-corpus
    step. Full-replay parity vs the scan-based ``bm25_topk`` is
    asserted in tests/test_streaming.py (row-exact: same decimal
    contribution sums, same tie-breaks).

    At 100 TB: state is Σ|distinct terms per doc| rows — the size of
    the inverted index itself; a deployment shards it by term hash
    (state-store partitioning does this automatically) and snapshots
    it through the same manifest zone as every other table."""
    from ..operators.text import tokens

    toks = docs_stream.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def stratum_counts_streaming(
    docs_stream: DataFrame, stratum_col: str = "source"
) -> DataFrame:
    """Per-stratum document counts as an update-mode streaming
    aggregate — one state row per stratum (domains can number
    millions; counts are mergeable, so state never grows past
    |strata|). The grain ``curation.mixture_weights_from_counts``
    derives the temperature-scaled mixture rebalancing from, making
    the training-mix weights a millisecond batch derivation over live
    ingest state instead of a corpus re-scan (full-replay parity vs
    the scan-based ``mixture_weights`` asserted in
    tests/test_streaming.py)."""
    return docs_stream.groupBy(
        F.col(stratum_col).alias("stratum")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def doc_feature_counts_streaming(
    docs_stream: DataFrame, n_buckets: int = 4096
) -> DataFrame:
    """Streaming half of the DSIR selector
    (``operators.curation.dsir_importance_weights``): the
    (doc_id, bucket, c_doc) hashed-ngram feature grain as an
    incrementally-merged update-mode aggregate — counts are mergeable,
    so state is one row per distinct (doc, bucket), capped at
    n_buckets rows per doc. ``curation.dsir_from_feature_state``
    derives the full importance ranking from the final state (raw
    model = one ≤ n_buckets-row aggregate over it; target model
    pinned by the caller), making quality-targeted data selection a
    millisecond batch derivation over live ingest state — the same
    state-table seam as the BM25 index (full-replay parity asserted
    row-exact in tests/test_streaming.py).

    At 100 TB: state is Σ min(distinct features per doc, n_buckets)
    rows, hash-sharded by the state store; the raw-model aggregate
    moves ≤ n_buckets rows regardless of corpus size."""
    from ..operators.curation import hashed_ngram_features

    return hashed_ngram_features(docs_stream, "doc_id", n_buckets).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("c_doc"))


def doc_shingle_counts_streaming(
    docs_stream: DataFrame, n: int = 5
) -> DataFrame:
    """Streaming half of the duplicated-n-gram memorization audit
    (``operators.text.ngram_novelty``): the (doc_id, _h, _tf)
    n-gram-hash count grain as an incrementally-merged update-mode
    aggregate. ``text.ngram_novelty_from_shingle_state`` derives the
    full audit from the final state — corpus totals are one hash
    aggregate over it — so the before/after dedup metric updates with
    ingest instead of re-shingling the corpus (full-replay parity
    asserted row-exact in tests/test_streaming.py). Docs with < n
    tokens contribute no state, matching the batch cutoff."""
    from ..functions.core import md5_long
    from ..operators.text import tokens

    t = tokens(F.lower(F.col("text")))
    sz = F.size(t)
    sh = t
    for j in range(1, n):
        shifted = F.slice(t, j + 1, F.greatest(sz - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(sh, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return (
        docs_stream.select("doc_id", t.alias("_t"), full.alias("_sh"))
        .filter(F.size("_t") >= n)
        .select("doc_id", F.explode("_sh").alias("_sgl"))
        .select("doc_id", md5_long(F.col("_sgl")).alias("_h"))
        .groupBy("doc_id", "_h")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )


def token_event_counts_streaming(
    docs_stream: DataFrame, shingle_n: int = 5
) -> DataFrame:
    """Streaming half of the single-scan multi-state corpus ingest
    (``operators.corpus_state``): the unified (doc_id, kind, s, h, c)
    tagged-event grain as ONE incrementally-merged update-mode
    aggregate. Where the engine previously ran FOUR parallel stateful
    streams over the same input (term / feature / shingle counts plus
    a vector derivation), live ingest now maintains a single state
    table from which every state family derives as a batch
    derivation — ``term_state_from_event_counts`` is a filter,
    the feature/shingle/vector states are small re-aggregations of
    already-collapsed counts. Full-replay parity vs the batch
    ``token_event_counts`` (and hence vs every downstream scan-based
    operator) is row-exact: counts are mergeable and the tagged event
    construction is the identical expression tree.

    At 100 TB: state is Σ|distinct (doc, kind, string)| rows —
    roughly the union of the four separate states it replaces, paid
    once instead of four times per arriving document; hash-sharded by
    the state store like every other corpus state here.

    COMPATIBILITY: the stateful groupBy key is the grain schema
    (``corpus_state.GRAIN_SCHEMA_VERSION`` — h2 joined the key in v2),
    so a streaming checkpoint taken under an older grain version
    CANNOT resume against this operator: rebuild the checkpoint (and
    any landed grain zone) together (ADVICE r9)."""
    from ..operators.corpus_state import _tagged_events
    from ..operators.text import tokens

    return (
        docs_stream.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("_t")
        )
        .select(
            "doc_id",
            F.explode(_tagged_events("_t", shingle_n)).alias("_e"),
        )
        .select(
            "doc_id",
            F.col("_e.kind").alias("kind"),
            F.col("_e.s").alias("s"),
            F.col("_e.h").alias("h"),
            F.col("_e.h2").alias("h2"),
        )
        .groupBy("doc_id", "kind", "s", "h", "h2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def doc_curation_flags_streaming(
    docs_stream: DataFrame, quality_threshold: float = 0.5
) -> DataFrame:
    """Streaming half of the curation funnel's per-doc flags
    (``operators.curation.doc_curation_flags``): fingerprint +
    quality boolean as a STATELESS append-mode projection — quality
    and the normalized md5 are pure per-doc functions, so the flag
    feed carries no state at all; the cross-doc part of the funnel
    lives in :func:`fingerprint_keeper_streaming`."""
    from ..operators.curation import doc_curation_flags

    return doc_curation_flags(docs_stream, quality_threshold)


def fingerprint_keeper_streaming(flags_stream: DataFrame) -> DataFrame:
    """The funnel's exact-dedup keeper as an update-mode streaming
    aggregate over the flag feed: per fingerprint, the min doc_id
    AMONG QUALITY SURVIVORS (the survivor-scoped keeper rule). Min
    over an insert-only stream is mergeable and monotone, so state is
    one row per distinct fingerprint and each arriving doc updates at
    most its own group — the same incremental shape as every count
    state here. ``operators.curation.curation_funnel_from_state``
    derives the live funnel report from this state + the flag feed +
    the shingle state (full-replay parity asserted row-exact)."""
    return flags_stream.groupBy("_fp").agg(
        F.min(F.when(F.col("_q"), F.col("doc_id"))).alias("keep_id")
    )
