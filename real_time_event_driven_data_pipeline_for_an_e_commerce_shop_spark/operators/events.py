"""Event-stream batch operators over the ``events`` table.

The reference's "stream" is orchestration only (SURVEY.md §2.7): full
snapshots per trigger, no event-time semantics. These operators give
the event surface real event-time treatment in batch form; the
streaming module reuses the same aggregations under watermarks.

* daily_event_rollup — tumbling 1-day event-time window (batch form of
  the streaming daily KPI).
* event_json_kpi — JSON property extraction (``props`` column) via
  regexp, staying JVM-side.
* sessionize — gap-based sessionization with window functions (lag →
  gap flag → cumulative session id), the batch equivalent of
  ``session_window``; one shuffle on user_id, everything else within
  the partition.
* funnel_firsts / user_day_activity / daily_value_rollup — the
  mergeable grains ``conversion_funnel``, ``cohort_retention`` and
  ``daily_anomalies`` / ``daily_trend`` are derived from. Each is
  one function: the batch operator calls it on the table, and a
  stream calls it unchanged as an update- or complete-mode aggregate
  whose state the same ``*_from_*`` derivation reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import det_round, exact_sum, ratio


def daily_event_rollup(events: DataFrame) -> DataFrame:
    """Per-day, per-type event counts + value sums + unique users."""
    return (
        events.groupBy(
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("event_date"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


def hourly_event_window(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window via the native ``F.window``
    operator — the exact aggregation the streaming layer runs under a
    watermark, in batch form (same plan shape: one shuffle on the
    window bucket + type)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def event_json_kpi(events: DataFrame) -> DataFrame:
    """Extract the integer ``k`` property from the JSON ``props`` string
    and aggregate it per event type.

    Regexp extraction instead of ``get_json_object`` keeps the exact
    same semantics available in the DuckDB oracle without its JSON
    extension; both engines see ``"k": <digits>``.
    """
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    k_long = F.when(k != "", k.cast("long"))
    per_event = events.select("event_type", k_long.alias("k"))
    return per_event.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``.

    Second-truncated epoch arithmetic (``cast long``) so the boundary
    decision is integer-exact and engine-independent. Output grain: one
    row per session.
    """
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("long")
    gap = epoch - F.lag(epoch).over(order)
    new_session = F.when(
        gap.isNull() | (gap > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    with_ids = events.withColumn(
        "session_seq",
        F.sum(new_session).over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max(epoch) - F.min(epoch)).alias("duration_s"),
            exact_sum(F.col("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "first_event_id",
            "n_events",
            "duration_s",
            "session_value",
        )
    )


def event_props_typed(events: DataFrame) -> DataFrame:
    """Typed JSON parsing: ``from_json`` with a declared schema (the
    JsonToStructs operator — scales as one vectorized JVM pass, unlike
    per-row Python json.loads) feeding an aggregate over the extracted
    field. Malformed JSON yields nulls (PERMISSIVE mode), dropped here
    like pandas would."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = events.select(
        "event_type",
        F.from_json(F.col("props"), schema).getField("k").alias("k"),
    ).filter(F.col("k").isNotNull())
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def approx_distinct_users(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type — the
    streaming/100 TB stand-in for exact countDistinct (mergeable
    sketch, no Expand, bounded memory). Approximate by construction:
    rows-only check; the exact counterpart is ``events_daily``."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def approx_distinct_accuracy(
    events: DataFrame, rsd: float = 0.02, tolerance: float = 0.05
) -> DataFrame:
    """Correctness gate for the HLL++ sketch: per event type, the exact
    distinct-user count alongside a boolean asserting the
    ``approx_count_distinct`` estimate lands within ``tolerance`` of
    it. Spark's HLL++ is deterministic for a given input, so the gate
    is hash-checkable by an oracle that recomputes the exact count and
    emits ``TRUE`` — the sketch's accuracy contract becomes the query
    result. The exact count here exists only to judge the sketch
    (oracle-scale data); at corpus scale callers use
    ``approx_distinct_users``, which never pays the distinct Expand."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd).alias("_approx"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(tolerance)
            ).alias("hll_ok"),
        )
    )


def click_attribution(
    events: DataFrame,
    window_hours: int = 24,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Range join: for every purchase, the same user's click count and
    click value over the preceding ``window_hours`` (click strictly
    before the purchase, at most ``window_hours`` earlier).

    Routed through :func:`~.asof.interval_join_timestamps` (VERDICT
    r5 #4): clicks replicate into the time buckets their forward
    window can reach, both sides equi-join on ``(user_id, bucket)``,
    and one residual predicate with ``bounds="(]"`` restores the
    exact preceding-window semantics. The old plan equi-joined on
    ``user_id`` alone, so ONE hot user's entire click history met
    every one of their purchases in a single task; here a hot user's
    rows hash across (user, bucket) pairs and spread over as many
    partitions as they have active buckets — plus AQE skew-split for
    any residual hot bucket.

    Purchases with no attributable click are re-attached by a left
    join back on the purchase key (the banded join is inner-only by
    design), emitting ``n_clicks = 0`` / ``click_value = 0.00`` —
    identical to the previous left-join formulation.
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    from .asof import interval_join_timestamps

    # c_ts < p_ts <= c_ts + window  ⟺  the "(]" banded interval join
    matched = interval_join_timestamps(
        purchases,
        clicks,
        key="user_id",
        left_time="p_ts",
        right_start="c_ts",
        window_seconds=window_hours * 3600,
        bucket_seconds=bucket_seconds,
        bounds="(]",
    )
    agg = matched.groupBy("purchase_id", "user_id").agg(
        F.count("c_ts").alias("_n"),
        exact_sum(F.coalesce(F.col("c_value"), F.lit(0.0)), 2).alias("_v"),
    )
    return (
        purchases.select("purchase_id", "user_id")
        .join(agg, on=["purchase_id", "user_id"], how="left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_clicks"),
            F.coalesce(F.col("_v"), F.lit(0.0))
            .cast("double")
            .alias("click_value"),
        )
    )


def daily_activity_vectors(
    events: DataFrame, start_date: str = "2024-01-01", n_days: int = 30
) -> DataFrame:
    """Per-user daily activity time series as a dense z-normalized
    vector — the feature-build step of time-series similarity search
    (cosine over z-normalized series == Pearson correlation).

    Determinism chain: daily sums go through the decimal ``exact_sum``
    (order-independent), the dense vector is built by a ``transform``
    over a day sequence with map lookup (no join explosion, no sort
    ambiguity), and mean/variance fold left-to-right with
    ``F.aggregate`` — DuckDB's ``list_reduce`` replays the identical
    IEEE operation sequence, so vectors match bit-for-bit cross-engine.
    Zero-variance users are dropped (correlation undefined).

    Scale shape: one shuffle to (user, day) grain, one to user grain;
    the dense vector is ``n_days`` doubles per user — at 100 TB of
    events this reduces to |users| × n_days, the same reduction the
    KPI pre-aggregation performs.
    """
    from ..functions.core import exact_sum

    d = F.datediff(F.to_date("ts"), F.to_date(F.lit(start_date)))
    daily = (
        events.filter((d >= 0) & (d < n_days))
        .groupBy(F.col("user_id"), d.alias("_d"))
        .agg(exact_sum(F.col("value"), 4).alias("_v"))
    )
    per_user = daily.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("_d", "_v"))).alias("_m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(n_days - 1)),
        lambda i: F.coalesce(F.col("_m")[i], F.lit(0.0)),
    )
    n = float(n_days)
    staged = per_user.select("user_id", vec.alias("_vec")).withColumn(
        "_mean",
        F.aggregate("_vec", F.lit(0.0), lambda a, x: a + x) / F.lit(n),
    )
    staged = staged.withColumn(
        "_std",
        F.sqrt(
            F.aggregate(
                "_vec",
                F.lit(0.0),
                lambda a, x: a + (x - F.col("_mean")) * (x - F.col("_mean")),
            )
            / F.lit(n)
        ),
    ).filter(F.col("_std") > 0)
    return staged.select(
        "user_id",
        F.transform(
            "_vec", lambda x: (x - F.col("_mean")) / F.col("_std")
        ).alias("activity_vec"),
    )


def conversion_funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered conversion funnel: a user counts at step k when their
    FIRST occurrences of the step events are time-ordered
    ``first(step_0) <= first(step_1) <= … <= first(step_k)`` (the
    standard "did A before first B" funnel semantics; ties allowed).

    One shuffle: the per-user pivot :func:`funnel_firsts` collapses
    the event log to |users| rows with one timestamp per step — the
    ordered-prefix test and the step counts (:func:`funnel_from_firsts`)
    are then a single tiny aggregate. No self-joins, no window over the
    raw log: at 100 TB the funnel costs one pass + one |users|-row
    reduce.
    """
    return funnel_from_firsts(funnel_firsts(events, steps), steps)


def funnel_firsts(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """The funnel's incremental grain: per user, ``_t{i}`` = the first
    timestamp of ``steps[i]`` (null when the user never did it).

    ``min`` is mergeable, so over an event stream this runs as an
    update-mode aggregate whose state is exactly ``len(steps)``
    timestamps per user — bounded, no watermark needed — and each
    micro-batch emits only the users whose firsts changed. The state
    table IS the product: :func:`funnel_from_firsts` derives the funnel
    from it in a batch pass (the reference recomputes everything per
    trigger, task_2.py:271-273)."""
    return events.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"_t{i}")
            for i, s in enumerate(steps)
        ]
    )


def funnel_from_firsts(
    firsts: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """The funnel report from a :func:`funnel_firsts` table: per step,
    the users whose firsts reach it in order, and their share of the
    entry step."""
    reached = F.lit(True)
    counts = []
    for i in range(len(steps)):
        cond = F.col(f"_t{i}").isNotNull()
        if i > 0:
            cond = cond & (F.col(f"_t{i - 1}") <= F.col(f"_t{i}"))
        reached = reached & cond
        counts.append(F.sum(reached.cast("long")).alias(f"_n{i}"))
    agg = firsts.agg(*counts)
    per_step = [
        F.struct(
            F.lit(i).cast("long").alias("step_index"),
            F.lit(s).alias("step"),
            F.col(f"_n{i}").alias("n_users"),
            det_round(ratio(F.col(f"_n{i}"), F.greatest(F.col("_n0"), F.lit(1))), 4).alias(
                "pct_of_entry"
            ),
        )
        for i, s in enumerate(steps)
    ]
    return agg.select(
        F.explode(F.array(*per_step)).alias("_s")
    ).select("_s.step_index", "_s.step", "_s.n_users", "_s.pct_of_entry")


def cohort_retention(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Weekly cohort retention: users grouped by the Monday-truncated
    week of their first event; a cohort is "retained" in week offset w
    when the user has ANY event in ``[first_day + 7w, first_day +
    7(w+1))`` (offset relative to the user's own first day — the
    rolling-retention definition that doesn't penalize mid-week
    signups).

    Shuffle shape: one user-grain aggregate for first days, one
    broadcast-back join (user grain vs event grain on user_id), one
    distinct to (user, offset) grain, one tiny (cohort, offset)
    aggregate. Events is scanned twice total, never three times.

    The event log feeds ``_retention`` directly: collapsing it to
    :func:`user_day_activity` first (:func:`retention_from_activity`)
    adds a shuffle, and measured slower on the sf0.1 corpus.
    """
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_first_day")
    )
    days = events.select("user_id", F.to_date("ts").alias("_day"))
    return _retention(firsts, days, max_weeks)


def user_day_activity(events: DataFrame) -> DataFrame:
    """Retention's incremental grain: per (user_id, active_day), the
    event count ``n_events``.

    ``count`` is mergeable, so over an event stream this runs as an
    update-mode aggregate whose state is one row per distinct
    (user, day), and each micro-batch emits only the pairs it touched.
    The state table IS the product: :func:`retention_from_activity`
    derives retention from it in a batch pass instead of chaining a
    second stateful aggregate (which would force append-mode
    watermarking and delay results by the watermark). State grows one
    row per user per active day; a deployment bounds it to the
    analysis horizon with a watermark + state TTL."""
    return events.groupBy(
        "user_id", F.to_date("ts").alias("active_day")
    ).agg(F.count(F.lit(1)).alias("n_events"))


def retention_from_activity(
    activity: DataFrame, max_weeks: int = 8
) -> DataFrame:
    """:func:`cohort_retention` from a :func:`user_day_activity` table;
    a user's first day is ``min(active_day)``, which the table holds
    by construction."""
    firsts = activity.groupBy("user_id").agg(
        F.min("active_day").alias("_first_day")
    )
    days = activity.select("user_id", F.col("active_day").alias("_day"))
    return _retention(firsts, days, max_weeks)


def _retention(
    firsts: DataFrame, days: DataFrame, max_weeks: int
) -> DataFrame:
    """The retention tail both entry points share, from per-user
    ``(user_id, _first_day)`` and the ``(user_id, _day)`` activity
    days. The cohort SIZE is recovered from the (cohort, offset)
    aggregate itself — every user's first day sits at offset 0, so
    ``active_users`` at week 0 IS the cohort size, read via a window
    over the tiny result instead of a second branch (a separate
    ``sizes`` subplan would make Catalyst re-scan the input and re-run
    the user-grain aggregate: plan branches don't share work without
    materialization)."""
    cohorts = firsts.withColumn(
        "cohort", F.date_format(F.date_trunc("week", "_first_day"), "yyyy-MM-dd")
    )
    offsets = (
        days.join(cohorts, "user_id")
        .select(
            "cohort",
            "user_id",
            F.floor(F.datediff("_day", "_first_day") / 7).alias("week_offset"),
        )
        .filter((F.col("week_offset") >= 0) & (F.col("week_offset") < max_weeks))
        .distinct()
    )
    agg = offsets.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    wc = Window.partitionBy("cohort")
    sized = agg.withColumn(
        "cohort_size",
        F.max(F.when(F.col("week_offset") == 0, F.col("active_users"))).over(wc),
    )
    return sized.select(
        "cohort",
        F.col("week_offset").cast("long").alias("week_offset"),
        "active_users",
        "cohort_size",
        det_round(ratio(F.col("active_users"), F.col("cohort_size")), 4).alias(
            "retention_pct"
        ),
    )


def daily_anomalies(events: DataFrame, z_thresh: float = 2.0) -> DataFrame:
    """Daily anomaly detection per event type: z-score each day's total
    value against that type's own distribution, flag |z| > threshold —
    the monitoring query every event pipeline grows (traffic spike /
    outage days), kept bit-deterministic cross-engine by the same
    decimal-exact power-sum discipline as ``olap_deep.lineitem_stats``
    (native stddev is an order-dependent float accumulation).

    Plan: one (type, day) aggregate — the only data-sized shuffle —
    then a per-type power-sum rollup over the tiny daily table and a
    broadcast join back; z is derived per row from (n, Σx, Σx²). The
    flag compares the det-rounded z so the boundary decision is
    identical in the DuckDB oracle. Types with a single day emit null
    z (no variance estimate), preserved as null in both engines.

    The (type, day) grain is :func:`daily_value_rollup`, which an
    event stream maintains as the same aggregate; the z derivation is
    :func:`anomalies_from_daily`.
    """
    return anomalies_from_daily(daily_value_rollup(events), z_thresh)


def daily_value_rollup(events: DataFrame) -> DataFrame:
    """The (event_type, _day, day_value) total-value rollup that
    :func:`daily_anomalies` and :func:`daily_trend` consume. A decimal
    sum is mergeable, so over an event stream this runs as an
    incrementally merged aggregate whose state is one exact sum per
    (type, day): run it in complete mode into a small sink (the state
    table is |types| × |days|), and each evaluation is a batch pass
    over it."""
    return events.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(exact_sum(F.col("value"), 2).alias("day_value"))


def anomalies_from_daily(
    daily: DataFrame, z_thresh: float = 2.0
) -> DataFrame:
    """The z-score derivation of :func:`daily_anomalies` over an
    already-built (event_type, _day, day_value) daily table — a
    per-type power-sum rollup of the tiny table, broadcast back."""
    v = F.col("day_value").cast("decimal(38,6)")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(v).cast("double").alias("_s1"),
        F.sum(v * v).cast("double").alias("_s2"),
    )
    n, s1, s2 = F.col("_n"), F.col("_s1"), F.col("_s2")
    mean = s1 / n
    std = F.sqrt((n * s2 - s1 * s1) / (n * (n - F.lit(1.0))))
    z = det_round((F.col("day_value") - mean) / std, 4)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            "day_value",
            z.alias("z_score"),
            (F.abs(z) > F.lit(z_thresh)).alias("is_anomaly"),
        )
    )


def daily_trend(events: DataFrame) -> DataFrame:
    """Per-type linear trend of daily total value: closed-form
    least-squares over (day index, day value) — slope per day,
    intercept, and the fitted next-day projection. The regression
    sums (Σx, Σy, Σxy, Σx²) are decimal-exact, the closed-form
    arithmetic is the same IEEE expression tree as the oracle, and x
    is the day offset from the type's own first day (small integers —
    exact in decimal and double alike).

    Same shuffle shape as :func:`daily_anomalies`: one data-sized
    (type, day) aggregate, then a per-type rollup of four sums — the
    fit itself never sees row-grain data, so at 100 TB the cost IS
    the daily rollup scan.
    """
    daily = daily_value_rollup(events)
    first = Window.partitionBy("event_type")
    with_x = daily.withColumn(
        "_x",
        F.datediff(F.col("_day"), F.min("_day").over(first)).cast(
            "decimal(38,6)"
        ),
    )
    y = F.col("day_value").cast("decimal(38,6)")
    sums = with_x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.col("_x")).cast("double").alias("_sx"),
        F.sum(y).cast("double").alias("_sy"),
        F.sum(F.col("_x") * y).cast("double").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.max(F.col("_x")).cast("double").alias("_mx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col(c) for c in ["_n", "_sx", "_sy", "_sxy", "_sxx"]
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    # project at (last observed day offset) + 1 — with calendar gaps
    # that is NOT n, so the max rides along in the same rollup
    return sums.select(
        "event_type",
        F.col("_n").cast("long").alias("n_days"),
        det_round(slope, 4).alias("slope_per_day"),
        det_round(intercept, 4).alias("intercept"),
        det_round(
            intercept + slope * (F.col("_mx") + F.lit(1.0)), 4
        ).alias("next_day_projection"),
    )
