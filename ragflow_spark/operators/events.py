"""Event-stream operators over the events table.

The reference has no true stream operators (SURVEY.md §2.5 note:
'streaming' there is LLM token streaming); these are the Spark-native
batch equivalents of the standard stream shapes — tumbling-window
aggregation and gap-based sessionization — which
ragflow_spark.streaming re-skins over readStream with watermarks.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ragflow_spark.operators.registry import register, table

SESSION_GAP_SECONDS = 1800


@register(
    "windowed_event_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def windowed_event_counts(spark, sf_dir):
    """Tumbling 1-hour window counts per event type. Batch form of
    `groupBy(window('ts', '1 hour'), ...)` — same plan shape as the
    Structured Streaming version in ragflow_spark.streaming."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), numbered AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_id, count(*) AS n_events FROM numbered
      GROUP BY user_id, session_id
    )
    SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
           max(n_events) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
)
def sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of session starts — gaps-and-islands, all window functions.
    Note events at one timestamp tie-break by event_id on both sides."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > SESSION_GAP_SECONDS),
        1,
    ).otherwise(0)
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = e.select(
        "user_id", "event_id", "ts", new_session.alias("new_session")
    ).withColumn("session_id", F.sum("new_session").over(w2))
    per_session = numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


@register(
    "history_window",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS recent_events
    FROM ranked WHERE rn <= 3
    GROUP BY user_id
    """,
)
def history_window(spark, sf_dir):
    """F6 history-window flatten (reference agent/component/base.py:
    419-444 resolves `answer` inputs by flattening the last N
    conversation turns; canvas.py:312-324 get_history(window_size)):
    per user, the last 3 events in time order folded into one string.

    Scale: rank + filter reduces to 3 rows/user BEFORE the fold, so
    the collect_list state is bounded regardless of history length."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    return ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("recent_events")
    )


@register(
    "rollup_revenue",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CASE WHEN value >= 100 THEN 'high' ELSE 'low' END, 'ALL')
             AS value_band,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events
    GROUP BY ROLLUP (event_type,
                     CASE WHEN value >= 100 THEN 'high' ELSE 'low' END)
    """,
)
def rollup_revenue(spark, sf_dir):
    """Hierarchical ROLLUP aggregate — Spark-native bonus beyond the
    reference (SURVEY.md §2.6 notes the reference has no grouping
    sets); one pass produces per-(type,band), per-type, and grand
    totals via partial aggregation."""
    e = table(spark, sf_dir, "events")
    band = F.when(F.col("value") >= 100, "high").otherwise("low")
    return (
        e.select(F.col("event_type"), band.alias("value_band"), F.col("value"))
        .rollup("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("value_band", F.lit("ALL")).alias("value_band"),
            "n",
            "total",
        )
    )


@register(
    "hopping_event_counts",
    oracle="""
    WITH aligned AS (
      -- stay in the NAIVE timestamp domain: to_timestamp() would
      -- yield TIMESTAMPTZ and strftime would render it in the
      -- process timezone (driver-sim runs under a non-UTC TZ)
      SELECT event_type, value,
             ts - to_microseconds(epoch_us(ts) % 1800000000) AS w1
      FROM events
    ), starts AS (
      SELECT event_type, value,
             unnest(list_value(w1 - INTERVAL 30 MINUTE, w1)) AS ws
      FROM aligned
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM starts GROUP BY 1, 2
    """,
)
def hopping_event_counts(spark, sf_dir):
    """Hopping (sliding) windows: 1-hour window, 30-minute slide —
    every event lands in exactly two windows. Batch form of
    `F.window(ts, '1 hour', '30 minutes')`; the oracle materializes
    the same two window starts per event arithmetically."""
    e = table(spark, sf_dir, "events")
    return window_counts(e, F.window("ts", "1 hour", "30 minutes"))


def window_counts(events, window):
    """(window_start, event_type, n, total_value) per ``window`` (an
    ``F.window`` Column) and event type: the aggregate the hopping
    batch query and the streaming tumbling twin
    (streaming/windows.py) share."""
    return (
        events.groupBy(window.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "session_window_counts",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR epoch(ts) - epoch(prev_ts) >= {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def session_window_counts(spark, sf_dir):
    """Spark's NATIVE session_window aggregation (30-min gap) — the
    built-in counterpart to the window-function `sessionize` query;
    the oracle recomputes the same sessions via gaps-and-islands.
    Note Spark's boundary semantics: an event exactly gap seconds
    after the previous one starts a NEW session (window end is
    exclusive), hence `>=` in the oracle where `sessionize` uses `>`."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@register(
    "pivot_event_values",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type='click' THEN value END), 0), 4) AS click,
           round(coalesce(sum(CASE WHEN event_type='error' THEN value END), 0), 4) AS error,
           round(coalesce(sum(CASE WHEN event_type='purchase' THEN value END), 0), 4) AS purchase,
           round(coalesce(sum(CASE WHEN event_type='signup' THEN value END), 0), 4) AS signup,
           round(coalesce(sum(CASE WHEN event_type='view' THEN value END), 0), 4) AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_values(spark, sf_dir):
    """Pivot: event types to columns (explicit value list so the plan
    is a single hash aggregate — an unlisted pivot needs an extra
    distinct pass to discover columns, a full scan at 100 TB)."""
    e = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0.0)).alias(t) for t in types],
    )


@register(
    "asof_last_login",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM events WHERE event_type IN ('signup', 'error')
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(signup_ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_signup_ts
      FROM tagged
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
           coalesce(strftime(last_signup_ts, '%Y-%m-%d %H:%M:%S'), 'never')
             AS asof_signup_ts
    FROM filled WHERE event_type = 'error'
    """,
)
def asof_last_login(spark, sf_dir):
    """AS-OF join (round-brief custom-operator example): each error
    event joined to the most recent signup at-or-before it, per user.
    Spark lacks a native as-of join; the composition-of-built-ins form
    is union + running max over an ordered window — one shuffle on
    user_id, no range join explosion, the 100 TB-safe shape (a naive
    inequality join would be O(errors x signups) per user)."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error")
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.max(signup_ts).over(w).alias("last_signup_ts"),
    )
    return filled.filter(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        F.coalesce(
            F.date_format("last_signup_ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit("never"),
        ).alias("asof_signup_ts"),
    )


@register(
    "cube_event_stats",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END,
                    'ALL') AS user_parity,
           count(*)::BIGINT AS n, round(sum(value), 4) AS total
    FROM events
    GROUP BY CUBE (event_type,
                   CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END)
    """,
)
def cube_event_stats(spark, sf_dir):
    """Full CUBE grouping — every subset of (event_type, user_parity)
    in ONE pass (ROLLUP's hierarchical cousin covers only prefixes;
    CUBE also emits the per-parity-across-types slice). Spark expands
    the grouping sets before the partial aggregate, so the map-side
    combine still runs per set and the shuffle carries one partial row
    per (set, key) — 2^d growth is in grouping sets, not input passes.
    Spark-native coverage beyond the reference (SURVEY §2.6: the
    reference has no grouping sets at all)."""
    e = table(spark, sf_dir, "events")
    parity = F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    return (
        e.select(
            F.col("event_type"), parity.alias("user_parity"), F.col("value")
        )
        .cube("event_type", "user_parity")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_parity", F.lit("ALL")).alias("user_parity"),
            "n",
            "total",
        )
    )
