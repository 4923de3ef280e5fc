"""Event-time queries over the events table (engine extension; the
reference has no time-series surface). Batch duals of the streaming jobs
in streaming/jobs.py — same aggregations, oracle-checked here, and the
stream/batch parity is asserted in tests/test_streaming.py.

Timestamp outputs are formatted to strings on both engines (session TZ
pinned UTC; DuckDB timestamps are tz-naive) so hashes are portable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.readers import load_table


@query(
    "hourly_event_rollup",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch dual (§2.9 histogram-in-time analogue)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@query(
    "daily_rollup_by_type",
    oracle="""
SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       coalesce(event_type, 'ALL') AS event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), event_type)
ORDER BY day, event_type
""",
)
def daily_rollup_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical day/type rollup with grand totals."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    return (
        ev.rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n",
            "total_value",
        )
        .orderBy("day", "event_type")
    )


@query(
    "user_sessionization",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT user_id, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events, sum(value) AS v
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       count(*) AS n_sessions,
       round(avg(n_events), 6) AS avg_events_per_session,
       round(sum(v), 2) AS total_value
FROM per_session GROUP BY user_id ORDER BY user_id
""",
)
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap > 30 min starts a session; running
    sum assigns ids (the classic window-function sessionizer — the batch
    dual of session_window in streaming/jobs.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            # gap compared on MICROSECOND LONGS on both engines (Spark
            # unix_micros vs DuckDB epoch_us) — integer math, no float or
            # whole-second truncation, so a sub-second boundary near the
            # 1800s threshold sessionizes identically across engines.
            # ts is TIMESTAMP_NTZ; cast→timestamp is exact under the
            # session's pinned UTC zone (session.py).
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                    > 1_800_000_000
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(run))
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
            F.round(F.sum("v"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "event_props_json_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def event_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON props payload and
    aggregate an extracted field (engine extension — the reference has no
    JSON surface; a 100 TB event pipeline always does)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "event_type_value_share",
    oracle="""
WITH t AS (SELECT event_type, sum(value) AS v FROM events GROUP BY 1),
tot AS (SELECT sum(v) AS total FROM t)
SELECT event_type, round(v, 2) AS total_value,
       round(v / tot.total, 6) AS share
FROM t, tot ORDER BY event_type
""",
)
def event_type_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via a broadcast scalar join on the 1-row total
    (an empty-partition window would serialize the aggregate to one
    task and log partitionless-WindowExec warnings)."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(F.sum("value").alias("v"))
    tot = t.agg(F.sum("v").alias("_tot"))
    return (
        t.crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("v") / F.col("_tot"))
        .select(
            "event_type",
            F.round("v", 2).alias("total_value"),
            F.round("share", 6).alias("share"),
        )
        .orderBy("event_type")
    )


@query(
    "signup_funnel_conversion",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(ts) FILTER (event_type = 'signup') AS t_signup,
         min(ts) FILTER (event_type = 'click') AS t_click,
         min(ts) FILTER (event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
),
flags AS (
  SELECT user_id,
         t_signup IS NOT NULL AS s1,
         t_signup IS NOT NULL AND t_click > t_signup AS s2,
         t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click AS s3
  FROM stages
)
SELECT count(*) AS n_users,
       count(*) FILTER (s1) AS reached_signup,
       count(*) FILTER (s2) AS reached_click,
       count(*) FILTER (s3) AS reached_purchase,
       round(count(*) FILTER (s3) / greatest(count(*) FILTER (s1), 1), 6)
         AS conversion
FROM flags
""",
)
def signup_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → first later click → first later
    purchase): a user advances a stage only if the next event's FIRST
    occurrence is strictly after the previous stage's. min-FILTER per
    stage then ordering comparisons — the funnel never self-joins the
    event stream (the naive per-stage join is S× the fact scan).

    Scale: one groupBy(user) with three conditional mins (map-side
    partial), one 1-row agg. NULL comparisons propagate false via SQL
    three-valued logic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("long")).alias("reached_signup"),
        F.sum(F.coalesce(s2, F.lit(False)).cast("long")).alias("reached_click"),
        F.sum(F.coalesce(s3, F.lit(False)).cast("long")).alias("reached_purchase"),
        F.round(
            F.sum(F.coalesce(s3, F.lit(False)).cast("long"))
            / F.greatest(F.sum(s1.cast("long")), F.lit(1)),
            6,
        ).alias("conversion"),
    )


@query(
    "weekly_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_week,
         date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       week_offset,
       count(*) AS active_users
FROM activity
WHERE week_offset <= 4
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted once per (cohort, week-offset) they were active in — the
    standard growth-analytics rollup.

    Scale: first-week per user is one agg; the offset join is on
    user_id (broadcast-able once cohorts ≪ events, else shuffle on the
    key both sides already group by); DISTINCT before the count keeps
    multi-event weeks from inflating retention."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", "ts").cast("date"),
                        F.col("cohort_week").cast("date"),
                    )
                    / 7
                )
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 4)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "click_purchase_attribution",
    oracle="""
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id, value,
         epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us
  FROM c JOIN p ON c.user_id = p.user_id
   AND click_ts <= purchase_ts
   AND purchase_ts <= click_ts + INTERVAL 1 HOUR
),
bucketed AS (
  SELECT CASE WHEN lag_us < 600000000 THEN '00-10m'
              WHEN lag_us < 1800000000 THEN '10-30m'
              ELSE '30-60m' END AS lag_bucket,
         value, lag_us
  FROM pairs
)
SELECT lag_bucket,
       count(*) AS n_pairs,
       round(avg(value), 4) AS avg_purchase_value,
       round(avg(lag_us) / 60000000.0, 4) AS avg_lag_min
FROM bucketed GROUP BY lag_bucket ORDER BY lag_bucket
""",
)
def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch dual of streaming/jobs.py::attribution_join_stream (the one
    streaming job previously without an oracle-checked dual): click →
    purchase pairs within 1 hour per user, bucketed by attribution lag.
    Lags compared as microsecond longs on both engines (same discipline
    as user_sessionization).

    Scale (hot-key posture, r10): the pair join equi-keys on (user_id,
    HOUR CHUNK), not user_id alone — each purchase probes its own and
    the previous hour chunk (2× explode on the purchase side; the
    attribution window is 1 hour, so a matching click can only live in
    those two chunks) and the time range stays as the residual. Same
    recipe as position_weighted_attribution below, where the sibling
    shape measured 2.06× vs uniform at a 30% hot user on the bare
    user_id key and 0.96× after chunking (BENCH_SCALE_r08e/r09c)."""
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    def hour_chunk(col):
        # derive the chunk from the SAME casted-to-timestamp expression
        # the lag math uses (microsecond-long discipline, like
        # attribution_lag_percentiles): unix_timestamp on a raw string
        # ts in a non-default format yields NULL chunks, and a NULL
        # equi-key silently drops every pair (ADVICE r10)
        return F.floor(
            F.unix_micros(col.cast("timestamp")) / F.lit(3_600_000_000)
        ).cast("long")

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        hour_chunk(F.col("ts")).alias("c_chunk"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        "value",
        F.explode(
            F.array(hour_chunk(F.col("ts")), hour_chunk(F.col("ts")) - 1)
        ).alias("p_chunk"),
    )
    pairs = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_chunk") == F.col("p_chunk"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "value", (us("purchase_ts") - us("click_ts")).alias("lag_us")
    )
    bucket = (
        F.when(F.col("lag_us") < 600_000_000, "00-10m")
        .when(F.col("lag_us") < 1_800_000_000, "10-30m")
        .otherwise("30-60m")
    )
    return (
        pairs.groupBy(bucket.alias("lag_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("value"), 4).alias("avg_purchase_value"),
            F.round(F.avg("lag_us") / 60_000_000.0, 4).alias("avg_lag_min"),
        )
        .orderBy("lag_bucket")
    )


@query(
    "event_transition_counts",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
FROM o WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
""",
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov-chain
    counts behind funnel and next-action analyses): per-user lag pairs
    of consecutive events, counted by (prev, next).

    Scale: the lag window partitions by user (bounded state per key, no
    global sort); the transition aggregate is |event_types|² rows.
    Ordering inside a user is (ts, event_id) — a total order, so the
    pairing is engine-deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "daily_new_and_cumulative_users",
    oracle="""
WITH fs AS (
  SELECT user_id, min(date_trunc('hour', ts)) AS first_hour
  FROM events GROUP BY user_id
),
d AS (SELECT first_hour, count(*) AS new_users FROM fs GROUP BY first_hour)
SELECT strftime(first_hour, '%Y-%m-%d %H:%M:%S') AS first_hour,
       new_users,
       (sum(new_users) OVER (ORDER BY first_hour
            ROWS UNBOUNDED PRECEDING))::BIGINT AS cumulative_users
FROM d ORDER BY first_hour
""",
)
def daily_new_and_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-growth accounting: each user's first-seen HOUR, new users
    per hour, and the cumulative user curve — the running-distinct
    problem solved the scale-correct way (min-per-user first, so the
    cumulative window runs over the bounded hour grain, never a
    distinct-over-window on the event stream). Hour granularity because
    this corpus's users all appear within the first days — the daily
    curve collapses to two rows and shows nothing.

    The cumulative runs over the per-hour aggregate (hundreds of rows
    at most) via the range-partitioned two-pass cumsum — exact integer
    sums, no partitionless window."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("first_hour")
    )
    from ..operators.windows import range_partitioned_cumsum

    d = fs.groupBy("first_hour").agg(F.count(F.lit(1)).alias("new_users"))
    cum = range_partitioned_cumsum(d, ["first_hour"], ["new_users"])
    return (
        cum.withColumn("cumulative_users", F.col("cum_new_users"))
        .select(
            F.date_format("first_hour", "yyyy-MM-dd HH:mm:ss").alias(
                "first_hour"
            ),
            "new_users",
            "cumulative_users",
        )
        .orderBy("first_hour")
    )


@query(
    "last_event_type_per_user",
    oracle="""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type AS last_type, count(*) AS n_users
FROM r WHERE rn = 1 GROUP BY last_type ORDER BY last_type
""",
)
def last_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user latest event via the MAX_BY aggregate (argmax as ONE
    hash aggregate with map-side partials — no window, no sort; the
    aggregate dual of the window-based largest_order_per_customer). The
    ordering key is a (ts, event_id) struct, so ties resolve identically
    across engines; the oracle states the same semantics as a
    row_number() argmax."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("last_type")
        )
        .groupBy("last_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("last_type")
    )


@query(
    "session_entry_conversion",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
entry AS (
  SELECT user_id, session_id, event_type AS entry_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
conv AS (
  SELECT user_id, session_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM sess GROUP BY user_id, session_id
),
per AS (
  SELECT e.entry_type, c.converted
  FROM entry e JOIN conv c USING (user_id, session_id)
  WHERE e.rn = 1
)
SELECT entry_type,
       count(*) AS n_sessions,
       sum(converted)::BIGINT AS n_converted,
       round(sum(converted) / count(*), 6) AS conversion_rate
FROM per GROUP BY entry_type ORDER BY entry_type
""",
)
def session_entry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session ENTRY event: sessionize (30-min gap,
    microsecond-long math), take each session's first event as the
    entry, flag sessions containing a purchase, and rate by entry type —
    the landing-page-conversion shape over the sessionizer.

    Scale: the session assignment is the user-partitioned window pair
    from user_sessionization; the entry/conversion reduction is one
    MIN_BY/MAX aggregate per session (no second window), and the final
    rollup is |event_types| rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                    > 1_800_000_000
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(run))
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "entry_type"
        ),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("converted"),
    )
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
            F.round(F.sum("converted") / F.count(F.lit(1)), 6).alias(
                "conversion_rate"
            ),
        )
        .orderBy("entry_type")
    )


@query(
    "hourly_count_anomalies",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
  FROM events GROUP BY event_type, hr
),
s AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
  FROM h GROUP BY event_type
)
SELECT h.event_type AS event_type,
       strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour,
       n AS n_events,
       round((n - mu) / sd, 4) AS z_score
FROM h JOIN s ON h.event_type = s.event_type
WHERE abs((n - mu) / sd) > 2.5
ORDER BY 1, 2
""",
)
def hourly_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against that type's own hourly distribution, flagging |z| > 2.5 —
    the monitoring rollup a pipeline runs on its ingest stream.

    Scale: one hash aggregate to (type, hour) grain, a |types|-row
    stats aggregate broadcast back, and a scan-thin filter; no windows
    at all."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    s = h.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        h.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("n").alias("n_events"),
            F.round(z, 4).alias("z_score"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "clicks_near_purchase_activity",
    oracle="""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
per AS (
  SELECT p.event_id, p.user_id,
         (SELECT count(*) FROM events c
          WHERE c.user_id = p.user_id AND c.event_type = 'click'
            AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 7200000000) AS n_nearby
  FROM p
)
SELECT n_nearby AS n_nearby_clicks,
       count(*) AS n_purchases
FROM per GROUP BY n_nearby ORDER BY n_nearby
""",
)
def clicks_near_purchase_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL JOIN at scale: for every purchase, count the same
    user's clicks within ±2 h, then histogram purchases by that count.
    The naive form is an inequality (range) join — quadratic within
    each user. The scale form here is BUCKETED: timestamps bucket to
    2-hour cells, each purchase probes its cell ±1 (explode of 3
    candidate cells), the join runs as a plain equi-join on
    (user, cell) — pruning all clicks outside a 6-hour band — and the
    exact ±2 h microsecond-long predicate filters the candidates.

    At 100 TB this is the pattern for any time-proximity join (ad
    attribution, sensor alignment): bucket width trades candidate
    volume against probe fan-out, and the equi-join shuffles hash-
    partition instead of exploding ranges. The oracle states the naive
    correlated range join."""
    win_us = 7_200_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("us").alias("c_us"),
        F.expr(f"us div {win_us}").alias("cell"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("us").alias("p_us"),
        F.expr(f"us div {win_us}").alias("p_cell"),
    )
    probes = purchases.select(
        "event_id",
        "user_id",
        "p_us",
        F.explode(
            F.array(F.col("p_cell") - 1, F.col("p_cell"), F.col("p_cell") + 1)
        ).alias("cell"),
    )
    cand = probes.join(clicks, ["user_id", "cell"]).filter(
        F.abs(F.col("c_us") - F.col("p_us")) <= win_us
    )
    per_p = cand.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_nearby"))
    per = purchases.join(per_p, "event_id", "left").select(
        F.coalesce("n_nearby", F.lit(0)).alias("n_nearby_clicks")
    )
    return (
        per.groupBy("n_nearby_clicks")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("n_nearby_clicks")
    )


@query(
    "cms_heavy_hitters_check",
    oracle="""
WITH h AS (
  SELECT user_id, r.j,
         ('0x' || substr(md5('cms' || r.j || ':' || user_id), 1, 15))::BIGINT % 256 AS b
  FROM events, range(4) r(j)
),
c AS (SELECT j, b, count(*)::BIGINT AS cnt FROM h GROUP BY j, b),
exact AS (
  SELECT user_id, count(*)::BIGINT AS n_events
  FROM events GROUP BY user_id
  ORDER BY n_events DESC, user_id LIMIT 10
),
est AS (
  SELECT e.user_id, e.n_events, min(c.cnt)::BIGINT AS cms_estimate
  FROM exact e
  CROSS JOIN range(4) r(j)
  JOIN c ON c.j = r.j
        AND c.b = ('0x' || substr(md5('cms' || r.j || ':' || e.user_id), 1, 15))::BIGINT % 256
  GROUP BY 1, 2
)
SELECT user_id, n_events, cms_estimate,
       (cms_estimate - n_events)::BIGINT AS overestimate
FROM est ORDER BY n_events DESC, user_id
""",
)
def cms_heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows × w=256 buckets) heavy-hitter gate:
    build the sketch distributed (explode each event into its 4 (row,
    bucket) cells → groupBy — at most 1024 counter rows regardless of
    data size), then read the top-10 users' estimates back out of it
    (min over the 4 rows) next to their exact counts. CMS guarantees
    estimate ≥ exact; ``overestimate`` exposes the collision error mass.
    The oracle rebuilds the sketch cell-for-cell in DuckDB via the same
    engine-portable md5 bucket hash (Spark ``conv(substr(md5,…))`` ≡
    DuckDB ``('0x'||…)::BIGINT``), so the hash pins the sketch CONTENTS,
    not just the top-k identities.

    Scale: the sketch is a fixed-size partial aggregate — the 100 TB
    pattern for frequency estimates over unbounded key domains where an
    exact groupBy would shuffle billions of keys. Point lookups join the
    broadcast 1 KB counter table; here the exact side doubles as the
    accuracy gate."""
    ev = load_table(spark, sf_dir, "events")
    d, w = 4, 256

    def bucket(j: int, col: str = "user_id") -> F.Column:
        key = F.concat(F.lit(f"cms{j}:"), F.col(col).cast("string"))
        return F.pmod(
            F.conv(F.substring(F.md5(F.encode(key, "UTF-8")), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(w),
        )

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
                    for j in range(d)
                ]
            )
        ).alias("h")
    )
    counters = cells.groupBy(
        F.col("h.j").alias("j"), F.col("h.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))

    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )
    probes = exact.select(
        "user_id",
        "n_events",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
                    for j in range(d)
                ]
            )
        ).alias("h"),
    ).select("user_id", "n_events", F.col("h.j").alias("j"), F.col("h.b").alias("b"))
    return (
        probes.join(F.broadcast(counters), ["j", "b"])
        .groupBy("user_id", "n_events")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "user_id",
            "n_events",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_events")).alias("overestimate"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    )


@query(
    "user_activity_gini",
    oracle="""
WITH c AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY 1),
r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
t AS (
  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS tot,
         sum(n * i)::BIGINT AS wsum
  FROM r
)
SELECT k AS n_users, tot AS n_events,
       round((2.0 * wsum) / (k * tot) - (k + 1.0) / k, 6) AS gini
FROM t
""",
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event-count inequality across users (0 =
    uniform load, →1 = one user dominates) — the skew metric that tells
    you whether a user-keyed shuffle needs salting BEFORE it falls over.
    Every intermediate is an exact integer (counts, ranks, weighted
    rank sum), so the closed-form Gini is two deterministic divisions;
    the global rank runs over the |users|-row aggregate via the
    range-partitioned two-pass rank (parallel; no single-task sort
    window)."""
    from ..operators.windows import range_partitioned_rank

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    r = range_partitioned_rank(c, ["n", "user_id"], out="i").select("n", "i")
    t = r.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("i")).alias("wsum"),
    )
    return t.select(
        F.col("k").alias("n_users"),
        F.col("tot").alias("n_events"),
        F.round(
            (2.0 * F.col("wsum")) / (F.col("k") * F.col("tot"))
            - (F.col("k") + 1.0) / F.col("k"),
            6,
        ).alias("gini"),
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
SELECT dayofweek(ts)::BIGINT AS dow,
       hour(ts)::BIGINT AS hour_of_day,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (the load-patterns
    matrix behind capacity planning and anomaly baselines): one grouped
    pass, ≤168 output cells at any scale. Spark's 1-based Sunday-first
    dayofweek is shifted to DuckDB's 0-based convention."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hour_of_day")
    )


@query(
    "rolling_7d_active_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM du)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       count(DISTINCT du.user_id) AS active_7d
FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d ORDER BY 1
""",
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding-window
    COUNT(DISTINCT) that window functions cannot express. Scale-correct
    form: reduce the event stream to the (day, user) distinct grain
    FIRST, then explode each grain row to the ≤7 target days it
    contributes to and count distinct per target day — a bounded 7×
    replication of the already-tiny distinct grain, instead of a 7-way
    fact self-join or a per-day subquery over raw events. Target days
    prune to days present in the corpus via a broadcast semi join (the
    day dimension is calendar-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select(F.col("d").alias("day_d")).distinct()
    target = du.select(
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day_d"),
        "user_id",
    )
    return (
        target.join(F.broadcast(days), "day_d", "left_semi")
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"), "active_7d"
        )
        .orderBy("day")
    )


@query(
    "event_burst_dedup",
    oracle="""
WITH o AS (
  SELECT event_type, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts)
                      - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts, event_id))
                      > 300000000
              THEN 1 ELSE 0 END AS is_head
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       sum(is_head)::BIGINT AS n_kept,
       (count(*) - sum(is_head))::BIGINT AS n_suppressed,
       round(sum(CASE WHEN is_head = 1 THEN value ELSE 0 END), 2)
         AS kept_value
FROM o GROUP BY event_type ORDER BY event_type
""",
)
def event_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-time duplicate suppression: within each (user, event_type)
    stream, an event repeated within 5 minutes of its predecessor is a
    burst duplicate (double-click, retry storm); only burst HEADS are
    kept. The time-tolerant cousin of exact dedup — a lag() gap test
    over the (user, type) partition, high-cardinality keys so the
    window is fully parallel, then one aggregate of the keep decisions.
    The batch dual of the streaming dedup job's watermark-bounded state
    (streaming/jobs.py::dedup_stream): same keep-first semantics, no
    state store needed because batch sees the whole partition."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    ev = load_table(spark, sf_dir, "events")
    # integer microsecond math (unix_micros ≡ DuckDB epoch_us) — the
    # engine-portable gap test, no float timestamps
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap_ok = (us(F.col("ts")) - us(F.lag(F.col("ts")).over(w))) > 300000000
    o = ev.withColumn(
        "is_head",
        F.when(F.lag("ts").over(w).isNull() | gap_ok, 1).otherwise(0),
    )
    return (
        o.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_head").cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("is_head"))
            .cast("long")
            .alias("n_suppressed"),
            F.round(
                F.sum(F.when(F.col("is_head") == 1, F.col("value")).otherwise(0)),
                2,
            ).alias("kept_value"),
        )
        .orderBy("event_type")
    )


@query(
    "rolling_7d_active_users_hll",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM du)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       count(DISTINCT du.user_id) AS exact_active_7d,
       true AS approx_within_5pct
FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d ORDER BY 1
""",
)
def rolling_7d_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for sliding-window distinct: ONE DataSketches HLL
    sketch per day (map-side, constant memory, no distinct-grain
    shuffle), then each window merges ≤7 kilobyte-sized sketches
    (`hll_union_agg` — union is the operation HLL exists for) and
    estimates. The estimate must land within 5% of the exact rolling
    count, asserted IN the result like the other sketch gates, with the
    exact counts riding along for the oracle. Contrast with
    `rolling_7d_active_users`: the exact form replicates the (day,user)
    grain 7×; this form replicates only the per-day SKETCHES — at scale
    the sketch table is thousands of rows regardless of fact size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    days = daily.select(F.col("d").alias("day_d")).distinct()
    merged = (
        daily.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("day_d"),
            "sk",
        )
        .join(F.broadcast(days), "day_d", "left_semi")
        .groupBy("day_d")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_approx")
        )
    )
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    exact = (
        du.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("day_d"),
            "user_id",
        )
        .join(F.broadcast(days), "day_d", "left_semi")
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").alias("exact_active_7d"))
    )
    return (
        exact.join(merged, "day_d")
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "exact_active_7d",
            (
                F.abs(F.col("_approx") - F.col("exact_active_7d"))
                <= 0.05 * F.col("exact_active_7d")
            ).alias("approx_within_5pct"),
        )
        .orderBy("day")
    )


@query(
    "scd2_event_type_history",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM seq WHERE prev_type IS DISTINCT FROM event_type
),
hist AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER
           (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
  FROM starts
)
SELECT event_type,
       count(*)::BIGINT AS n_intervals,
       sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_current,
       sum(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_closed,
       round(sum(CASE WHEN valid_to IS NOT NULL
                 THEN epoch_us(valid_to) - epoch_us(valid_from)
                 ELSE 0 END)::DOUBLE
             / sum(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)
             / 3.6e9, 4) AS avg_hours_closed
FROM hist GROUP BY event_type ORDER BY event_type
""",
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from an event
    log: per user, collapse consecutive same-type events into effective
    intervals [valid_from, valid_to) — change rows open a new interval,
    the next change closes it, the last stays open (valid_to NULL =
    current). The report folds the interval table per type: interval
    counts, open (current) rows, and the mean closed-interval dwell in
    hours from exact integer microsecond sums.

    This is the batch analogue of CDC compaction at 100 TB: both
    windows run inside the (user_id) partition — high cardinality, no
    global window — and the change-detection lag plus the close-lead
    are the only shuffle-free per-partition passes the build needs.
    Ties break on event_id deterministically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    starts = seq.filter(
        ~F.col("prev_type").eqNullSafe(F.col("event_type"))
    ).select(
        "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    hist = starts.select(
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    closed = F.col("valid_to").isNotNull()
    dur_us = F.unix_micros(F.col("valid_to").cast("timestamp")) - F.unix_micros(
        F.col("valid_from").cast("timestamp")
    )
    return (
        hist.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.when(~closed, 1).otherwise(0)).alias("n_current"),
            F.sum(F.when(closed, 1).otherwise(0)).alias("n_closed"),
            F.round(
                F.sum(F.when(closed, dur_us).otherwise(0)).cast("double")
                / F.sum(F.when(closed, 1).otherwise(0))
                / F.lit(3.6e9),
                4,
            ).alias("avg_hours_closed"),
        )
        .orderBy("event_type")
    )


@query(
    "incremental_daily_refresh_accounting",
    oracle="""
WITH ev AS (
  SELECT event_id, value, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE value IS NOT NULL
),
mx AS (SELECT max(day) AS mxd FROM ev),
late AS (
  SELECT ev.* FROM ev, mx WHERE event_id % 2 = 1 AND day >= mxd - 4
),
initial AS (
  SELECT ev.* FROM ev, mx
  WHERE NOT (event_id % 2 = 1 AND day >= mxd - 4)
),
base AS (
  SELECT day, count(*)::BIGINT AS n, sum(round(value * 100))::BIGINT AS cents
  FROM initial GROUP BY 1
),
affected AS (SELECT DISTINCT day FROM late),
refreshed AS (
  SELECT day, count(*)::BIGINT AS n, sum(round(value * 100))::BIGINT AS cents
  FROM ev WHERE day IN (SELECT day FROM affected)
  GROUP BY 1
),
final AS (
  SELECT * FROM base WHERE day NOT IN (SELECT day FROM affected)
  UNION ALL
  SELECT * FROM refreshed
),
full_agg AS (
  SELECT day, count(*)::BIGINT AS n, sum(round(value * 100))::BIGINT AS cents
  FROM ev GROUP BY 1
),
mismatch AS (
  SELECT count(*)::BIGINT AS n_mismatched_days
  FROM (SELECT * FROM final EXCEPT SELECT * FROM full_agg)
)
SELECT (SELECT count(*) FROM full_agg)::BIGINT AS n_days_total,
       (SELECT count(*) FROM affected)::BIGINT AS n_days_recomputed,
       (SELECT n_mismatched_days FROM mismatch) AS n_mismatched_days,
       (SELECT sum(n) FROM final)::BIGINT AS total_events,
       (SELECT round(sum(cents) / 100.0, 2) FROM final) AS total_value
""",
)
def incremental_daily_refresh_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-scoped incremental view maintenance, audited: a daily
    aggregate built from the initial load is refreshed by recomputing
    ONLY the days the late batch (odd event_ids landing in the trailing
    5-day window) touches
    — unchanged days are carried forward — and the audited invariant is
    that the incrementally-maintained table EQUALS the full recompute
    (EXCEPT-count pinned to 0 in the hashed row), with the recompute
    fraction exposed. Since r12 both sides re-sum the same pinned
    (day, late) partials, so the audit checks only the carry-forward /
    refresh routing (which days are kept, which are recomputed), not
    the aggregation itself; the oracle checks the totals.

    Scale: this is how a 100 TB daily rollup absorbs late data — the
    refresh reads only the affected partitions (here an IN-filter that
    prunes to PartitionFilters on a day-partitioned sink, cf.
    partitioned_parquet_roundtrip), the carry-forward is a partition-
    key anti-join on the AGGREGATE (day grain, calendar-bounded), and
    the equality audit is the regression test you run on the pipeline,
    not per batch. Value sums in exact integer cents."""
    raw = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev = raw.select(
        "event_id", "value", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    mx = ev.agg(F.max("day").alias("mxd"))
    ev = ev.crossJoin(F.broadcast(mx))
    is_late = (F.col("event_id") % 2 == 1) & (
        F.col("day") >= F.date_sub(F.col("mxd"), 4)
    )
    cents = F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    n = F.count(F.lit(1)).alias("n")
    # r12 (guide §1.2): base / late-day list / refreshed / full recompute
    # were FOUR independent fact passes over events. One grouped pass at
    # (day, late?) grain — calendar-bounded, pinned — determines all of
    # them: base = the non-late partials, late days = the late rows'
    # days, full = partials re-summed per day. Regrouping is exact: n is
    # a long, and every cents partial sums integer-valued doubles
    # (round(value*100)) whose running sums stay far under 2^53, so any
    # grouping yields the identical double → identical long.
    from ..plans.materialize import pinned_lru

    g = pinned_lru(
        ev.groupBy("day", is_late.alias("_late")).agg(n, cents),
        "incr_refresh_day_parity",
        keep=2,
    )
    base = g.filter(~F.col("_late")).select("day", "n", "cents")
    late_days = g.filter(F.col("_late")).select("day").distinct()
    full_agg = g.groupBy("day").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )
    refreshed = full_agg.join(F.broadcast(late_days), "day", "left_semi")
    final = base.join(late_days, "day", "left_anti").unionByName(refreshed)
    mismatch = final.exceptAll(full_agg).agg(
        F.count(F.lit(1)).alias("n_mismatched_days")
    )
    days_total = full_agg.agg(F.count(F.lit(1)).alias("n_days_total"))
    days_rec = late_days.agg(F.count(F.lit(1)).alias("n_days_recomputed"))
    totals = final.agg(
        F.sum("n").cast("long").alias("total_events"),
        F.round(F.sum("cents") / 100.0, 2).alias("total_value"),
    )
    return (
        days_total.crossJoin(F.broadcast(days_rec))
        .crossJoin(F.broadcast(mismatch))
        .crossJoin(F.broadcast(totals))
        .select(
            "n_days_total",
            "n_days_recomputed",
            "n_mismatched_days",
            "total_events",
            "total_value",
        )
    )


@query(
    "click_purchase_reconciliation",
    oracle="""
WITH c AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*)::BIGINT AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*)::BIGINT AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
j AS (
  SELECT coalesce(c.n_clicks, 0) AS n_clicks,
         coalesce(p.n_purchases, 0) AS n_purchases,
         CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL
                THEN 'both'
              WHEN c.user_id IS NOT NULL THEN 'click_only'
              ELSE 'purchase_only' END AS status
  FROM c FULL OUTER JOIN p
    ON c.user_id = p.user_id AND c.day = p.day
)
SELECT status,
       count(*)::BIGINT AS n_user_days,
       sum(n_clicks)::BIGINT AS total_clicks,
       sum(n_purchases)::BIGINT AS total_purchases
FROM j GROUP BY status ORDER BY status
""",
)
def click_purchase_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation at the (user, day) grain — the join
    type the rest of the suite doesn't exercise: click-activity days
    and purchase-activity days are aggregated independently, full-outer
    joined, and every user-day classified as both / click_only /
    purchase_only with its event mass. This is the two-ledger
    reconciliation shape (imps vs bills, sent vs acked): the outer join
    surfaces BOTH kinds of mismatch in one pass, where two anti-joins
    would scan twice.

    Scale: both sides pre-aggregate to the (user, day) grain before the
    join — the full-outer shuffle carries day-grain rows, never raw
    events; null-key pollution is impossible (group keys are non-null
    by construction)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts")).alias("day")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    j = c.alias("c").join(
        p.alias("p"),
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.day") == F.col("p.day")),
        "full_outer",
    )
    status = (
        F.when(
            F.col("c.user_id").isNotNull() & F.col("p.user_id").isNotNull(),
            "both",
        )
        .when(F.col("c.user_id").isNotNull(), "click_only")
        .otherwise("purchase_only")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_user_days"),
            F.sum("n_clicks").alias("total_clicks"),
            F.sum("n_purchases").alias("total_purchases"),
        )
        .orderBy("status")
    )


@query(
    "top_user_day_journeys",
    oracle="""
WITH j AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         string_agg(event_type, '->' ORDER BY ts, event_id) AS journey,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
)
SELECT journey,
       count(*)::BIGINT AS n_user_days,
       max(n_events)::BIGINT AS journey_len
FROM j GROUP BY journey
ORDER BY n_user_days DESC, journey LIMIT 10
""",
)
def top_user_day_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey (clickstream-path) analysis: each user-day's ordered
    event-type sequence collapses to a '->' path string, and the top-10
    most common daily journeys are reported with their frequency and
    length. Ordering inside the path is pinned by (ts, event_id) on
    both engines — collect_list has no deterministic order by itself,
    so the Spark side sorts an array of (ts, event_id, type) structs
    before projecting the types (struct comparison = lexicographic on
    fields, ≡ the oracle's ORDER BY).

    Scale: the sequence assembly is one (user, day) aggregate — state
    bounded by the day's events per user, the grain a session store
    would hold; the journey-frequency pass runs on the path-string
    aggregate. Heavy-hitter journeys at 100 TB would go through the CMS
    sketch instead of the exact second aggregate."""
    ev = load_table(spark, sf_dir, "events")
    j = (
        ev.groupBy("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                "->",
            ).alias("journey"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        j.groupBy("journey")
        .agg(
            F.count(F.lit(1)).alias("n_user_days"),
            F.max("n_events").alias("journey_len"),
        )
        .orderBy(F.desc("n_user_days"), F.asc("journey"))
        .limit(10)
    )


@query(
    "event_conditional_entropy",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
t AS (
  SELECT prev, event_type, count(*)::BIGINT AS c
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
mp AS (SELECT prev, sum(c)::BIGINT AS cp FROM t GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n FROM t),
hc AS (
  SELECT round(-sum((t.c::DOUBLE / tot.n)
                    * ln(t.c::DOUBLE / mp.cp) / ln(2.0)), 6) AS h_cond_bits
  FROM t JOIN mp USING (prev), tot
),
hm AS (
  SELECT round(-sum((cp::DOUBLE / tot.n) * ln(cp::DOUBLE / tot.n) / ln(2.0)),
               6) AS h_marginal_bits
  FROM mp, tot
)
SELECT (SELECT n FROM tot) AS n_transitions, h_marginal_bits, h_cond_bits,
       round(h_marginal_bits - h_cond_bits, 6) AS information_rate_bits
FROM hc, hm
""",
)
def event_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | prev) of the per-user event-type
    Markov chain, in bits, next to the marginal entropy H(prev) — their
    difference is the information the previous event carries about the
    next (the sequence-predictability readout on top of
    event_transition_counts; ~0 means the journey is memoryless and a
    sequence model buys nothing). Every probability is a ratio of exact
    transition counts; log2 terms are IEEE-deterministic; the sums are
    ``math.fsum`` over the |types|^2 transition cells, so cell order
    cannot move a bit.

    Scale: the lag window is (user)-partitioned; one grouped count to
    the transition cells, which are collected under a row cap and
    finished on the driver; the one-row result is a local relation
    rounded by Spark."""
    # imported per call: the scale gate in tests/test_plans.py patches
    # collect_small to see the plans of the frames it collects
    from ..plans.materialize import collect_small, local_frame

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    cells = collect_small(
        seq.groupBy("prev", "event_type").agg(F.count(F.lit(1)).alias("c")),
        cap=4096,
    )
    out = local_frame(
        spark,
        [_conditional_entropy([(r["prev"], r["c"]) for r in cells])],
        "n_transitions long, h_marginal_bits double, h_cond_bits double",
    ).select(
        "n_transitions",
        F.round("h_marginal_bits", 6).alias("h_marginal_bits"),
        F.round("h_cond_bits", 6).alias("h_cond_bits"),
    )
    return out.select(
        "*",
        F.round(F.col("h_marginal_bits") - F.col("h_cond_bits"), 6).alias(
            "information_rate_bits"
        ),
    )


def _conditional_entropy(cells: list[tuple]) -> tuple:
    """``(n, H(prev), H(next | prev))`` in bits from ``(prev, count)``
    transition cells; all ``None`` when there are none, like the
    oracle's ungrouped aggregates over an empty table."""
    if not cells:
        return (None, None, None)
    cp: dict = {}
    for prev, c in cells:
        cp[prev] = cp.get(prev, 0) + c
    n = sum(cp.values())
    fn, ln2 = float(n), math.log(2.0)
    h_cond = -math.fsum(
        (c / fn) * math.log(c / cp[prev]) / ln2 for prev, c in cells
    )
    h_marg = -math.fsum((v / fn) * math.log(v / fn) / ln2 for v in cp.values())
    return (n, h_marg, h_cond)


@query(
    "attribution_lag_percentiles",
    oracle="""
WITH c AS (
  SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
),
lags AS (
  SELECT (epoch_us(pts) - epoch_us(cts)) / 60000000.0 AS lag_min
  FROM c JOIN p ON c.user_id = p.user_id
   AND cts <= pts AND pts <= cts + INTERVAL 1 HOUR
),
qq AS (
  SELECT count(*)::BIGINT AS n_pairs,
         quantile_cont(lag_min, [0.5, 0.9, 0.99]) AS v
  FROM lags
)
SELECT n_pairs,
       round(v[1], 4) AS p50_min,
       round(v[2], 4) AS p90_min,
       round(v[3], 4) AS p99_min
FROM qq
""",
)
def attribution_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency percentiles (p50/p90/p99 minutes within
    the 1-hour attribution window) — the SLA-style readout layered on
    the attribution pair join, computed through the BUFFER-FREE
    distributed exact-percentile path (exact_percentiles_distributed)
    rather than the value-buffering aggregate: at 100 TB the pair list
    is fact-sized and a single percentile buffer would not hold it.
    Lags are exact integer microsecond differences scaled once, so the
    value domain is identical across engines.

    Scale (hot-key posture, r10): the pair join equi-keys on (user_id,
    HOUR CHUNK) — each purchase probes its own and the previous hour
    chunk, the time range staying as the residual — so a whale user's
    quadratic pair work splits across its active hours (the recipe
    position_weighted_attribution measured at 0.96× vs uniform under a
    30% hot key, BENCH_SCALE_r09c); the percentile path is a hash-agg
    to distinct lag values plus the two-pass range cumulative."""
    from ..operators.aggregates import exact_percentiles_distributed

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    chunk = F.floor(us / 3_600_000_000).cast("long")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), us.alias("cus"), chunk.alias("c_chunk")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us.alias("pus"),
        F.explode(F.array(chunk, chunk - 1)).alias("p_chunk"),
    )
    lags = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_chunk") == F.col("p_chunk"))
        & (F.col("cus") <= F.col("pus"))
        & (F.col("pus") <= F.col("cus") + 3_600_000_000),
    ).select(((F.col("pus") - F.col("cus")) / 60000000.0).alias("lag_min"))
    # with_n (r11): the pair count rides out of the percentile path's
    # own cumulative — the previous sibling ``lags.agg(count)`` was a
    # full second evaluation of the attribution pair join (guide §1.2).
    q = exact_percentiles_distributed(
        lags, "lag_min", [0.5, 0.9, 0.99], with_n=True
    )
    wide = q.groupBy("n").pivot("p", [0.5, 0.9, 0.99]).agg(F.first("value"))
    return wide.select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("`0.5`"), 4).alias("p50_min"),
        F.round(F.col("`0.9`"), 4).alias("p90_min"),
        F.round(F.col("`0.99`"), 4).alias("p99_min"),
    )


@query(
    "event_burst_band_join",
    oracle="""
WITH e AS (
  SELECT event_id AS id, user_id AS u, event_type AS t,
         epoch_us(ts) AS us
  FROM events
),
pr AS (
  SELECT a.u,
         b.us - a.us AS gap_us,
         CASE WHEN a.t = b.t THEN 1 ELSE 0 END AS same_type
  FROM e a JOIN e b
    ON b.u = a.u AND b.us > a.us AND b.us <= a.us + 600000000
)
SELECT count(*)::BIGINT AS n_pairs,
       count(DISTINCT u)::BIGINT AS n_users,
       sum(same_type)::BIGINT AS n_same_type,
       round(sum(gap_us)::DOUBLE / count(*)::DOUBLE / 1000000, 6)
         AS mean_gap_sec
FROM pr
""",
)
def event_burst_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection by a banded self range-join: pairs of events by
    the same user within a strict-forward 10-minute band, with the
    same-type share and the mean intra-burst gap — the
    interaction-density primitive behind rate limiting, bot detection,
    and session micro-structure.

    The Spark plan is the BUCKETED band join, not the naive inequality
    join the oracle states: each event probes its own 600-second epoch
    bucket and the next (exploded 2-element array), so pair generation
    is an equi-join on (user, bucket) — every true pair lands in one of
    the two probes because a gap <= 600 s spans at most one bucket
    boundary — and the band predicate only filters candidates. That is
    the O(n * density) range-join recipe that survives 100 TB; the
    inequality join would be per-user quadratic.

    Exactness: microsecond-integer gap arithmetic; one division for the
    mean; the strict b.us > a.us order de-duplicates pairs without a
    tiebreak (timestamps are microsecond-distinct in this corpus, and
    equal-timestamp pairs are excluded identically on both engines)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    bucket = F.floor(F.col("us") / 600000000).cast("long")
    probe = ev.select(
        F.col("u"),
        F.col("us").alias("aus"),
        F.col("t").alias("at"),
        F.explode(F.array(bucket, bucket + 1)).alias("jb"),
    )
    right = ev.select(
        F.col("u"),
        F.col("us").alias("bus"),
        F.col("t").alias("bt"),
        bucket.alias("jb"),
    )
    pr = probe.join(right, ["u", "jb"]).filter(
        (F.col("bus") > F.col("aus"))
        & (F.col("bus") <= F.col("aus") + 600000000)
    )
    return pr.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("u").alias("n_users"),
        F.sum(F.when(F.col("at") == F.col("bt"), 1).otherwise(0)).alias(
            "n_same_type"
        ),
        F.round(
            F.sum(F.col("bus") - F.col("aus")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1000000,
            6,
        ).alias("mean_gap_sec"),
    ).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_same_type").cast("long").alias("n_same_type"),
        "mean_gap_sec",
    )


@query(
    "time_weighted_user_value",
    oracle="""
WITH e AS (
  SELECT user_id AS u, epoch_us(ts) AS us, value AS v FROM events
),
lagd AS (
  SELECT u, us, v,
         lag(us) OVER (PARTITION BY u ORDER BY us, v) AS pus,
         lag(v) OVER (PARTITION BY u ORDER BY us, v) AS pv
  FROM e
),
seg AS (
  SELECT u, (v + pv) / 2 * (us - pus)::DOUBLE AS area,
         (us - pus)::DOUBLE AS dt, v
  FROM lagd WHERE pus IS NOT NULL
),
pu AS (
  SELECT u, sum(area) / sum(dt) AS twap, count(*) + 1 AS n_events
  FROM seg GROUP BY u
),
pm AS (SELECT u, avg(v) AS plain FROM e GROUP BY u)
SELECT count(*)::BIGINT AS n_users,
       round(avg(pu.twap), 6) AS mean_twap,
       round(avg(pm.plain), 6) AS mean_plain,
       round(avg(pu.twap - pm.plain), 6) AS mean_sampling_bias
FROM pu JOIN pm ON pu.u = pm.u
""",
)
def time_weighted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user (trapezoidal rule over
    the irregular event timeline) against the plain per-event mean —
    the difference IS the sampling bias that plain averages inherit
    when event density correlates with value (the metrics trap in any
    irregularly-sampled telemetry). One row: user count, both means,
    and the mean bias.

    Scale: the lag window is PARTITIONED by user (parallel, bounded
    state); integration is exact microsecond-integer widths times
    double values, one grouped fold per user, then a k=|users| rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").alias("v"),
    )
    w = Window.partitionBy("u").orderBy("us", "v")
    lagd = ev.select(
        "u",
        "us",
        "v",
        F.lag("us").over(w).alias("pus"),
        F.lag("v").over(w).alias("pv"),
    )
    seg = lagd.filter(F.col("pus").isNotNull()).select(
        "u",
        (
            (F.col("v") + F.col("pv"))
            / 2
            * (F.col("us") - F.col("pus")).cast("double")
        ).alias("area"),
        (F.col("us") - F.col("pus")).cast("double").alias("dt"),
    )
    pu = seg.groupBy("u").agg(
        (F.sum("area") / F.sum("dt")).alias("twap"),
    )
    pm = ev.groupBy("u").agg(F.avg("v").alias("plain"))
    return pu.join(pm, "u").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("twap"), 6).alias("mean_twap"),
        F.round(F.avg("plain"), 6).alias("mean_plain"),
        F.round(F.avg(F.col("twap") - F.col("plain")), 6).alias(
            "mean_sampling_bias"
        ),
    ).select(
        F.col("n_users").cast("long").alias("n_users"),
        "mean_twap",
        "mean_plain",
        "mean_sampling_bias",
    )


_STREAM_REPLAY_SEQ = [0]


@query(
    "streaming_dedup_hourly_replay",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def streaming_dedup_hourly_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING hard check: the events file-stream is read
    TWICE and unioned (an at-least-once source replaying every record),
    piped through ``dedup_stream`` (``dropDuplicatesWithinWatermark`` on
    event_id — watermark-bounded state) and the watermarked hourly
    rollup, drained to completion, and returned as a batch table. The
    DuckDB oracle is the plain single-copy hourly aggregate, so the
    hash check fails if the streaming dedup misses or over-drops even
    one duplicate, or if watermark bookkeeping corrupts a window.

    Scale: the same plan attaches to Kafka unchanged; dedup state is
    bounded by the 2h watermark horizon, window state by the rollup
    watermark — no unbounded state at 100 TB/day.
    """
    from ..streaming import jobs as SJ

    doubled = SJ.read_event_stream(spark, sf_dir).unionByName(
        SJ.read_event_stream(spark, sf_dir)
    )
    deduped = SJ.dedup_stream(doubled, keys=["event_id"])
    rolled = SJ.hourly_rollup_stream(deduped, watermark=None)
    _STREAM_REPLAY_SEQ[0] += 1
    out = SJ.run_to_completion(
        rolled, f"stream_replay_{_STREAM_REPLAY_SEQ[0]}", output_mode="complete"
    )
    return out.orderBy("hour", "event_type")


@query(
    "streaming_sessionization_replay",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT user_id, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events, sum(value) AS v
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       count(*) AS n_sessions,
       round(avg(n_events), 6) AS avg_events_per_session,
       round(sum(v), 2) AS total_value
FROM per_session GROUP BY user_id ORDER BY user_id
""",
)
def streaming_sessionization_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING hard check #2: the native ``session_window``
    sessionizer (streaming/jobs.py::session_stream, watermark-bounded
    state) drained over the events file-stream must reproduce the batch
    lag-gap sessionization EXACTLY — per-user session counts, mean
    session size, and total value all hash-checked against the DuckDB
    window-function sessionizer. Raw (unrounded) per-session sums are
    re-aggregated after the drain so rounding happens exactly once,
    like the oracle.

    Scale: session state is bounded by the watermark horizon per active
    user; the post-drain rollup is a tiny grouped aggregate."""
    from ..streaming import jobs as SJ

    sess = SJ.session_stream(
        SJ.read_event_stream(spark, sf_dir), rounded=False
    )
    _STREAM_REPLAY_SEQ[0] += 1
    out = SJ.run_to_completion(
        sess, f"stream_sess_{_STREAM_REPLAY_SEQ[0]}", output_mode="complete"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_attribution_replay",
    oracle="""
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id, value,
         epoch_us(purchase_ts) - epoch_us(click_ts) AS lag_us
  FROM c JOIN p ON c.user_id = p.user_id
   AND click_ts <= purchase_ts
   AND purchase_ts <= click_ts + INTERVAL 1 HOUR
),
bucketed AS (
  SELECT CASE WHEN lag_us < 600000000 THEN '00-10m'
              WHEN lag_us < 1800000000 THEN '10-30m'
              ELSE '30-60m' END AS lag_bucket,
         value, lag_us
  FROM pairs
)
SELECT lag_bucket,
       count(*) AS n_pairs,
       round(avg(value), 4) AS avg_purchase_value,
       round(avg(lag_us) / 60000000.0, 4) AS avg_lag_min
FROM bucketed GROUP BY lag_bucket ORDER BY lag_bucket
""",
)
def streaming_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING hard check #3: the STREAM-STREAM inner join
    (streaming/jobs.py::attribution_join_stream — clicks x purchases by
    user within a 1-hour horizon, both sides watermarked so join state
    expires) drained in append mode must emit exactly the batch pair
    set; the drained pairs are bucketed by attribution lag and
    hash-checked against the DuckDB range-join oracle.

    Scale: join state is bounded by watermark + horizon on both sides —
    the pattern for joining two unbounded firehoses; the post-drain
    bucket rollup is constant-size."""
    from ..streaming import jobs as SJ

    ev = SJ.read_event_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    pairs = SJ.attribution_join_stream(clicks, purchases, horizon="1 hour")
    _STREAM_REPLAY_SEQ[0] += 1
    out = SJ.run_to_completion(
        pairs, f"stream_attr_{_STREAM_REPLAY_SEQ[0]}", output_mode="append"
    )
    bucket = (
        F.when(F.col("lag_us") < 600_000_000, "00-10m")
        .when(F.col("lag_us") < 1_800_000_000, "10-30m")
        .otherwise("30-60m")
    )
    return (
        out.groupBy(bucket.alias("lag_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("purchase_value"), 4).alias("avg_purchase_value"),
            F.round(F.avg("lag_us") / 60_000_000.0, 4).alias("avg_lag_min"),
        )
        .orderBy("lag_bucket")
    )


@query(
    "streaming_stateful_totals_replay",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       round(sum(coalesce(value, 0.0)), 2) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def streaming_stateful_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING hard check #4 — the CUSTOM STATEFUL operator
    (streaming/jobs.py::stateful_user_totals_stream,
    ``applyInPandasWithState``): per-user running count/value totals
    maintained in explicit Arrow-batched state must, after the stream
    drains, equal the batch per-user aggregate (DuckDB oracle). Update
    mode emits one row per (user, micro-batch); the LAST update per
    user — max n_events, running counts are monotone — is the final
    state. This is the escape-hatch operator for semantics
    window/session_window can't express; the other three replays cover
    the declarative stateful surface.

    Scale: state is one tiny row per user, keyed shuffle once."""
    from ..streaming import jobs as SJ

    totals = SJ.stateful_user_totals_stream(
        SJ.read_event_stream(spark, sf_dir), rounded=False
    )
    _STREAM_REPLAY_SEQ[0] += 1
    out = SJ.run_to_completion(
        totals, f"stream_state_{_STREAM_REPLAY_SEQ[0]}", output_mode="update"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("total_value", 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "position_weighted_attribution",
    oracle="""
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT purchase_id, value, click_id, click_ts
  FROM c JOIN p ON c.user_id = p.user_id
   AND click_ts <= purchase_ts
   AND purchase_ts <= click_ts + INTERVAL 1 HOUR
),
ranked AS (
  SELECT purchase_id, value,
         row_number() OVER (PARTITION BY purchase_id
                            ORDER BY click_ts, click_id) AS rn,
         count(*) OVER (PARTITION BY purchase_id) AS n
  FROM pairs
),
credited AS (
  SELECT CASE WHEN n = 1 THEN 'only'
              WHEN rn = 1 THEN 'first'
              WHEN rn = n THEN 'last'
              ELSE 'middle' END AS position,
         CASE WHEN n = 1 THEN 1.0
              WHEN n = 2 THEN 0.5
              WHEN rn = 1 OR rn = n THEN 0.4
              ELSE 0.2 / (n - 2) END * coalesce(value, 0.0) AS credit
  FROM ranked
)
SELECT position,
       count(*) AS n_touches,
       round(CAST(sum(CAST(credit AS DECIMAL(28,10))) AS DOUBLE), 2)
         AS credit_sum
FROM credited GROUP BY position ORDER BY position
""",
)
def position_weighted_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH (U-shaped / position-based) attribution: every click
    within the hour before a purchase shares that purchase's value —
    40% to the first touch, 40% to the last, 20% split across the middle
    (sole touch: 100%, two touches: 50/50). The marketing-science
    counterpart to the last-touch pair query (click_purchase_attribution)
    — same watermarkable range join, plus the per-purchase position
    ranking that makes credit assignment order-aware.

    Determinism: click order within a purchase is (click_ts, click_id) —
    a total order — on both engines; credit weights are exact rationals
    applied per row. The per-position sum runs over DECIMAL(28,10)
    (each per-row double credit cast once, identically on both engines):
    decimal addition is exact and ASSOCIATIVE, so the sum is invariant
    to Spark's run-to-run partial-aggregation order — a plain double
    sum flipped the 2dp rounding at sf0.1 in one of three oracle-sweep
    runs (65.64 vs 65.63; the round-3 reassociation-noise class).

    Scale (hot-key posture, r9): the pair join equi-keys on (user_id,
    HOUR CHUNK), not user_id alone — each purchase probes its own and
    the previous hour chunk (2× explode on the purchase side; the
    attribution window is 1 hour, so a matching click can only live in
    those two chunks) and the time range stays as the residual. A key
    that is uniform in time never notices; a WHALE key's quadratic
    pair work splits across its active hours instead of landing on one
    task (BENCH_SCALE_r08e measured 2.06× vs uniform at a 30% hot user
    with the plain user_id key; the two-phase-with-carry recipe at
    SCALE.md round-8 is this, expressed as a join key). The ranking
    window partitions by purchase_id — millions of small partitions,
    no skew."""
    ev = load_table(spark, sf_dir, "events")

    def hour_chunk(col):
        return F.floor(F.unix_timestamp(col) / F.lit(3600)).cast("long")

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        hour_chunk(F.col("ts")).alias("c_chunk"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
        F.explode(
            F.array(hour_chunk(F.col("ts")), hour_chunk(F.col("ts")) - 1)
        ).alias("p_chunk"),
    )
    pairs = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_chunk") == F.col("p_chunk"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "value", "click_id", "click_ts")
    wp = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "purchase_id",
        "value",
        F.row_number()
        .over(wp.orderBy("click_ts", "click_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    position = (
        F.when(F.col("n") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n"), "last")
        .otherwise("middle")
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.select(
            position.alias("position"),
            (weight * F.coalesce("value", F.lit(0.0))).alias("credit"),
        )
        .groupBy("position")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(
                F.sum(F.col("credit").cast("decimal(28,10)")).cast("double"), 2
            ).alias("credit_sum"),
        )
        .orderBy("position")
    )


@query(
    "streaming_sliding_rollup_replay",
    oracle="""
WITH w AS (
  SELECT (epoch_us(ts) // 900000000 - j) * 900000000 AS start_us
  FROM events, unnest([0, 1, 2, 3]) AS t(j)
)
SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       count(*) AS n
FROM w GROUP BY start_us ORDER BY start_us
""",
)
def streaming_sliding_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING hard check #5 — OVERLAPPING (sliding)
    windows: the 1-hour/15-minute sliding rollup
    (streaming/jobs.py::sliding_rollup_stream) drained over the events
    file-stream must assign every event to EXACTLY its four covering
    epoch-aligned windows; the DuckDB oracle replicates each event into
    those four starts by integer epoch arithmetic (slide=900s, so
    start = (epoch_us // slide - j) * slide for j in 0..3) and counts.
    Completes the declarative streaming surface: tumbling (dedup
    rollup), session, sliding, stream-stream join, custom state.

    Scale: sliding-window state is windows-per-slide x active keys,
    bounded by the watermark horizon; counts are exact integers."""
    from ..streaming import jobs as SJ

    rolled = SJ.sliding_rollup_stream(SJ.read_event_stream(spark, sf_dir))
    _STREAM_REPLAY_SEQ[0] += 1
    out = SJ.run_to_completion(
        rolled, f"stream_slide_{_STREAM_REPLAY_SEQ[0]}", output_mode="complete"
    )
    return out.orderBy("window_start")


@query(
    "session_event_trigrams_top",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sess AS (
  SELECT user_id, event_type, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
tri AS (
  SELECT event_type
           || '>' || lead(event_type, 1) OVER w
           || '>' || lead(event_type, 2) OVER w AS trigram,
         sid,
         lead(sid, 2) OVER w AS sid2
  FROM sess
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT trigram, count(*) AS n
FROM tri WHERE sid2 = sid
GROUP BY trigram ORDER BY n DESC, trigram LIMIT 10
""",
)
def session_event_trigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL-PATTERN mining lite (the PrefixSpan use case at fixed
    length): the 10 most frequent within-session event-type TRIGRAMS —
    sessions are the standard 30-minute lag-gap cut, consecutive-triple
    patterns taken only when all three events share a session. The
    event-path primitive one level above the Markov transition matrix
    (event_transition_counts): which three-step journeys dominate.

    Scale: two window passes over the same (user_id, ts, event_id)
    partitioning (sessionize, then lead-2) — one shuffle total; the
    trigram rollup is a hash aggregate on a small key space; top-10 is
    a TakeOrdered. Exact integer counts, total-order ties."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    sess = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum(
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    tri = sess.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("trigram"),
        F.col("sid"),
        F.lead("sid", 2).over(w).alias("sid2"),
        F.lead("event_type", 2).over(w).alias("_e3"),
    )
    return (
        tri.filter(F.col("sid2") == F.col("sid"))
        .filter(F.col("_e3").isNotNull())
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(10)
    )


@query(
    "order_value_qq_period_drift",
    oracle="""
WITH b AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < (SELECT min(o_orderdate)
                                  + to_days((datediff('day', min(o_orderdate),
                                             max(o_orderdate)) // 2)::INTEGER)
                                  FROM orders)
              THEN 'early' ELSE 'late' END AS period
  FROM orders
),
q AS (
  SELECT period,
         unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS p,
         unnest(quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]))
           AS qv
  FROM b GROUP BY period
)
SELECT e.p AS decile,
       round(e.qv, 4) AS q_early,
       round(l.qv, 4) AS q_late,
       round(l.qv - e.qv, 4) AS qq_gap,
       round(l.qv / e.qv, 6) AS qq_ratio
FROM q e JOIN q l ON e.p = l.p AND e.period = 'early' AND l.period = 'late'
ORDER BY e.p
""",
)
def order_value_qq_period_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile DRIFT table: the order-value distribution of the
    late half of the date range against the early half, compared at the
    nine interior deciles (type-7 exact quantiles on both engines) — the
    distribution-shift diagnostic that localizes WHERE a drift lives
    (tails vs body), complementing the scalar PSI readout
    (order_value_psi_drift).

    Scale: the period split is one broadcast scalar comparison; each
    side's deciles come from the grouped exact percentile (day-agnostic
    value column, single-buffer at bench SF — swap in the distributed
    range-partition path of grouped_distributed_quantiles_check beyond);
    the final join is 9x9 rows."""
    orders = load_table(spark, sf_dir, "orders")
    probs = [round(0.1 * i, 1) for i in range(1, 10)]
    mid = orders.agg(
        F.date_add(
            F.min("o_orderdate"),
            (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 2).cast(
                "int"
            ),
        ).alias("mid")
    )
    b = orders.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderdate") < F.col("mid"), "early")
        .otherwise("late")
        .alias("period"),
    )
    q = b.groupBy("period").agg(
        *[
            F.expr(f"percentile(v, {p})").alias(f"q_{i}")
            for i, p in enumerate(probs, 1)
        ]
    )
    # pinned (r12, guide §1.2): the 2-row percentile aggregate is
    # referenced by every arm of the 9-decile union below (the early
    # side once and the late side once per decile — up to 18 plans,
    # each re-running the fact-sized percentile buffers; profiler: 33
    # jobs per warm run). One evaluation, 2 cached rows.
    from ..plans.materialize import pinned_lru

    q = pinned_lru(q, "qq_drift_quantiles", keep=2)
    e = q.filter(F.col("period") == "early")
    late = q.filter(F.col("period") == "late")
    rows = None
    for i, p in enumerate(probs, 1):
        r = e.crossJoin(F.broadcast(late.select(F.col(f"q_{i}").alias("_ql")))).select(
            F.lit(p).alias("decile"),
            F.round(F.col(f"q_{i}"), 4).alias("q_early"),
            F.round(F.col("_ql"), 4).alias("q_late"),
            F.round(F.col("_ql") - F.col(f"q_{i}"), 4).alias("qq_gap"),
            F.round(F.col("_ql") / F.col(f"q_{i}"), 6).alias("qq_ratio"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("decile")


@query(
    "event_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL 24 HOUR
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL 24 HOUR
  GROUP BY 1
)
SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewed,
       (SELECT count(*) FROM c)::BIGINT AS n_clicked_after,
       (SELECT count(*) FROM p)::BIGINT AS n_purchased_after,
       round((SELECT count(*) FROM c)::DOUBLE
             / (SELECT count(*) FROM v), 6) AS view_to_click,
       round((SELECT count(*) FROM p)::DOUBLE
             / nullif((SELECT count(*) FROM c), 0), 6) AS click_to_purchase
""",
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED ordered funnel conversion (view → first click within
    24h AFTER the first view → first purchase within 24h AFTER that
    click), per user: the sequencing + window constraints are what
    separate a funnel from three independent counts — a user who
    purchased before ever viewing, or a week later, does not convert.
    The standard product-analytics primitive, expressed as three
    chained min-aggregates (stage k+1 = min event time inside the
    window strictly after the user's stage-k time).

    Scale: three groupBy(user_id) passes, each joined back on user_id —
    every shuffle is on the SAME key, so after the first exchange the
    subsequent joins/aggregates are co-partitioned (AQE keeps the
    partitioning); no per-user event arrays are ever collected."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    day = F.expr("INTERVAL 24 HOURS")
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked_after"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased_after"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_viewed",
            "n_clicked_after",
            "n_purchased_after",
            F.round(
                F.col("n_clicked_after").cast("double") / F.col("n_viewed"), 6
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchased_after").cast("double")
                / F.nullif(F.col("n_clicked_after"), F.lit(0)),
                6,
            ).alias("click_to_purchase"),
        )
    )
