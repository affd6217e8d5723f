"""Engagement / retention / attribution analytics over `events` —
the engagement tier split out of `operators/events.py` in round 14
(VERDICT r13 item 5; pure move, no semantic change).

DAU/MAU stickiness, growth accounting, rolling distinct users,
conversion latency, incident and linear attribution (range joins),
concurrency sweep-line, usage-inequality (Gini / Lorenz), and the
id-integrity / median-impute data-quality gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import pround
from ..registry import register
from ..sources.catalog import load_table
from .events import TS_FMT_DUCK, TS_FMT_SPARK, _DUCK_BUCKET, _window_cols


# ---------------------------------------------------------------------------
# Range / interval join — the operator class Spark has no native node
# for (a non-equi time-containment join). Incident windows OVERLAP
# (each busiest 5-min window extended by a ±2-minute blast radius), so
# no single equi-key exists and an event can attribute to multiple
# incidents — a genuine range join, not a disguised window equi-join.

INCIDENT_TOP = 10
INCIDENT_PRE_MIN = 2   # blast radius before the window
INCIDENT_POST_MIN = 2  # and after (window is 5 min → hi = start + 7)


@register(
    "events_incident_window_attribution",
    oracle=f"""
    WITH w AS (
      SELECT {_DUCK_BUCKET} AS wstart, count(*) AS n
      FROM events GROUP BY 1
      ORDER BY n DESC, wstart LIMIT {INCIDENT_TOP}
    ), iv AS (
      SELECT wstart,
             wstart - to_minutes(CAST({INCIDENT_PRE_MIN} AS BIGINT))      AS lo,
             wstart + to_minutes(CAST({5 + INCIDENT_POST_MIN} AS BIGINT)) AS hi
      FROM w
    )
    SELECT strftime(iv.wstart, '{TS_FMT_DUCK}') AS window_start,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM iv JOIN events e ON e.ts >= iv.lo AND e.ts < iv.hi
    GROUP BY 1, 2
    """,
    doc=f"Incident attribution via a RANGE JOIN: the {INCIDENT_TOP} "
        f"busiest 5-minute windows, each widened by a ±{INCIDENT_PRE_MIN}-"
        f"minute blast radius (so intervals OVERLAP — no equi-key "
        f"rewrite exists), joined to every event whose timestamp falls "
        f"inside.  Strategy: the interval side is tiny and bounded "
        f"(top-k), so it BROADCASTS and the non-equi predicate "
        f"evaluates map-side over the streamed fact table — a "
        f"BroadcastNestedLoopJoin that scans events exactly once, no "
        f"shuffle for the join itself.  When BOTH sides are large "
        f"(interval table ~ fact-sized), the scale rewrite is interval "
        f"bucketing: explode each interval into the coarse time "
        f"buckets it covers, equi-join fact rows on their bucket, then "
        f"re-apply the exact range predicate — shuffle bounded by "
        f"bucket width instead of |fact|x|intervals|.",
    tags=("events", "range-join"),
)
def events_incident_window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    counts = (
        _window_cols(e)
        .groupBy(F.col("win.start").alias("wstart"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    iv = (
        counts.orderBy(F.col("n").desc(), "wstart")
        .limit(INCIDENT_TOP)
        .select(
            "wstart",
            (F.col("wstart") - F.expr(f"INTERVAL {INCIDENT_PRE_MIN} MINUTES")).alias("lo"),
            (F.col("wstart") + F.expr(f"INTERVAL {5 + INCIDENT_POST_MIN} MINUTES")).alias("hi"),
        )
    )
    return (
        e.join(F.broadcast(iv), (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
        .groupBy(
            F.date_format("wstart", TS_FMT_SPARK).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_rolling_distinct_users_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), contrib AS (
      SELECT u.user_id, d.day AS window_day
      FROM ud u JOIN days d
        ON d.day BETWEEN u.day AND u.day + INTERVAL 6 DAY
    )
    SELECT strftime(window_day, '%Y-%m-%d')     AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM contrib GROUP BY window_day
    """,
    doc="Trailing-7-day rolling distinct users per observed day — the "
        "classic sliding-window-distinct problem (WAU over a daily "
        "grid).  Distinct is not decomposable over overlapping windows, "
        "so no window function expresses this; the naive shape is an "
        "O(|days| x corpus) range self-join.  The scale shape used "
        "here: (1) dedup to (user, active-day) pairs — one shuffle, "
        "map-side combine, output bounded by |users| x |days|; (2) "
        "EXPLODE each pair to the <= 7 window-days it contributes to — "
        "map-only, bounded x7 row expansion, no join against the "
        "corpus; (3) semi-restrict to observed days via a broadcast of "
        "the tiny day list; (4) one distinct-count per day.  At 100 TB "
        "the corpus is touched once; everything after step 1 operates "
        "on the users x days frame.  Day emitted as a formatted string "
        "(session-tz-proof, same contract as events_hourly_stats).",
    tags=("events", "window-agg", "scale"),
)
def events_rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # lazily checkpointed: the day list below derives from the deduped
    # pairs, not a second corpus scan (blocks reclaimed with the session)
    ud = (
        e.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = ud.select("day").distinct().withColumnRenamed("day", "window_day")
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("window_day"),
    )
    return (
        contrib.join(F.broadcast(days), "window_day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(
            F.date_format("window_day", "yyyy-MM-dd").alias("day"),
            "users_7d",
        )
    )


@register(
    "events_conversion_latency",
    oracle="""
    SELECT CAST(user_id AS BIGINT)                          AS user_id,
           strftime(min(ts) FILTER (WHERE event_type = 'view'),
                    '%Y-%m-%d %H:%M:%S')                    AS first_view,
           strftime(min(ts) FILTER (WHERE event_type = 'purchase'),
                    '%Y-%m-%d %H:%M:%S')                    AS first_purchase,
           CAST(date_diff('second',
                          min(ts) FILTER (WHERE event_type = 'view'),
                          min(ts) FILTER (WHERE event_type = 'purchase'))
                AS BIGINT)                                  AS latency_s
    FROM events
    GROUP BY user_id
    HAVING min(ts) FILTER (WHERE event_type = 'view') IS NOT NULL
       AND min(ts) FILTER (WHERE event_type = 'purchase')
           > min(ts) FILTER (WHERE event_type = 'view')
    """,
    doc="Time-to-convert per user: first 'view' -> first LATER "
        "'purchase', latency in whole seconds (floor-epoch difference "
        "in both engines, so the cross-engine contract is exact "
        "integers, not fp durations).  The funnel-latency complement "
        "of funnel_view_click_purchase: that query counts who "
        "converts, this one measures how long conversion takes — the "
        "standard product-analytics pair over the reference's "
        "view-event firehose (v1:15-20).  Scale shape: ONE grouped "
        "aggregate over the corpus with conditional-min partial "
        "aggregation map-side — no per-user sort, no self-join of "
        "views against purchases (the naive shape, corpus x corpus); "
        "the HAVING runs post-agg on |users| rows.",
    tags=("events", "funnel", "agg"),
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return (
        e.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            first_view.alias("fv"),
            first_purchase.alias("fp"),
        )
        .filter(F.col("fv").isNotNull() & (F.col("fp") > F.col("fv")))
        .select(
            "user_id",
            F.date_format("fv", TS_FMT_SPARK).alias("first_view"),
            F.date_format("fp", TS_FMT_SPARK).alias("first_purchase"),
            (F.unix_timestamp("fp") - F.unix_timestamp("fv"))
            .cast("bigint")
            .alias("latency_s"),
        )
    )


ATTRIBUTION_LOOKBACK_US = 3_600_000_000  # credit clicks from the prior hour


@register(
    "events_linear_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS p_event, epoch_ns(ts) // 1000 AS p_us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, event_id AS c_event, epoch_ns(ts) // 1000 AS c_us,
             CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS campaign
      FROM events WHERE event_type = 'click'
    ), touches AS (
      SELECT p.p_event, c.campaign,
             count(*) OVER (PARTITION BY p.p_event) AS n_touches,
             row_number() OVER (PARTITION BY p.p_event
                                ORDER BY c.c_us, c.c_event) AS touch_rank
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.c_us >= p.p_us - {ATTRIBUTION_LOOKBACK_US} AND c.c_us < p.p_us
    )
    SELECT campaign,
           CAST(count(*) AS BIGINT)                  AS n_touches,
           CAST(count(DISTINCT p_event) AS BIGINT)   AS n_purchases,
           CAST(sum(1000000 // n_touches
                    + CASE WHEN touch_rank <= 1000000 % n_touches
                           THEN 1 ELSE 0 END) AS BIGINT) AS credit_ppm
    FROM touches GROUP BY campaign
    """,
    doc="Multi-touch LINEAR attribution: every click by the purchasing "
        "user in the hour before a purchase shares that purchase's "
        "credit equally (the complement of asof_join_last_click's "
        "last-touch model).  Credit is EXACT integer parts-per-million "
        "— 1e6 div n per touch plus one extra ppm to the first "
        "(1e6 mod n) touches in (time, click-id) order, so every "
        "purchase distributes EXACTLY 1e6 ppm (r12 review fix: the "
        "plain floor leaked the remainder and campaign totals stopped "
        "reconciling) — and cross-engine sums cannot drift the way "
        "float 1/n summation order would.  Scale shape: the touch join "
        "is an equi-join on user_id with the time-range predicate "
        "applied inside the match — pair blow-up bounded per user, "
        "never |clicks| x |purchases|; per-purchase touch counts come "
        "from one window over the joined frame; the campaign roll-up "
        "aggregates |campaigns| rows.  The campaign stand-in is the "
        "props.k bucket (the reference wire's payload field, v1:15-20).",
    tags=("events", "attribution", "range-join"),
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event"), F.col("ts_us").alias("p_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_event"),
        F.col("ts_us").alias("c_us"),
        (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("campaign"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_us") >= F.col("p_us") - ATTRIBUTION_LOOKBACK_US)
        & (F.col("c_us") < F.col("p_us")),
    )
    # credit CONSERVATION (r12 review fix): floor(1e6/n) per touch
    # leaked (1e6 mod n) ppm per purchase, so campaign credit no longer
    # reconciled against 1e6 x purchases.  The remainder goes to the
    # FIRST (1e6 mod n) touches in the deterministic (c_us, click id)
    # order — every purchase now hands out exactly 1,000,000 ppm.
    w = Window.partitionBy("p_event")
    w_rank = Window.partitionBy("p_event").orderBy("c_us", "c_event")
    credited = touches.withColumn(
        "n_touches", F.count(F.lit(1)).over(w)
    ).withColumn("touch_rank", F.row_number().over(w_rank))
    credit = F.expr(
        "CAST(1000000 div n_touches AS BIGINT)"
        " + CASE WHEN touch_rank <= 1000000 % n_touches THEN 1 ELSE 0 END"
    )
    return (
        credited.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("p_event").alias("n_purchases"),
            F.sum(credit).cast("bigint").alias("credit_ppm"),
        )
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), contrib AS (
      SELECT u.user_id, d.day AS window_day
      FROM ud u JOIN days d
        ON d.day BETWEEN u.day AND u.day + INTERVAL 29 DAY
    ), mau AS (
      SELECT window_day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM contrib GROUP BY window_day
    ), dau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM ud GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           d.dau,
           m.mau,
           floor(CAST(d.dau AS DOUBLE) / m.mau * 1000000.0 + 0.5) / 1000000.0
             AS stickiness
    FROM dau d JOIN mau m ON m.window_day = d.day
    """,
    doc="DAU/MAU stickiness per day: daily actives over trailing-30-day "
        "actives — the engagement ratio product teams track beside raw "
        "counts (a DAU spike with flat MAU = reactivation burst, both "
        "rising = real growth).  Same scale shape as the 7-day rolling "
        "op it extends: dedup the corpus to (user, active-day) pairs "
        "ONCE, explode each pair into the <=30 window-days it "
        "contributes to (bounded x30 map-only expansion — never a "
        "|days| x corpus range self-join), distinct-count per day; "
        "DAU falls out of the same pair frame.  The ratio is one "
        "rounded division of exact integers.",
    tags=("events", "window-agg", "scale"),
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = ud.select("day").distinct().withColumnRenamed("day", "window_day")
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 29))).alias(
            "window_day"
        ),
    )
    mau = (
        contrib.join(F.broadcast(days), "window_day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    return (
        dau.join(mau, dau.day == mau.window_day)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            pround(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Peak concurrency (round 9): the maximum number of simultaneously
# open sessions — the capacity-planning number (connection pools,
# license seats, serving replicas) the hourly volume series cannot
# give you.  Sweep-line: every session contributes (+1 at start, −1 at
# end+1µs) boundary events; the peak is the max of the global running
# sum over the boundary stream.  Only the max is needed, not every
# row's running value, so the stream is never joined back to offsets:
# it is range-partitioned on its total order, each segment reduces to
# (sum, best local prefix, its instant), and a one-row SQL fold over
# the ≤ shuffle.partitions segment summaries, in segment order, adds
# each segment's offset to its local best.  NEVER an unpartitioned
# window over the boundary stream.  All values are exact integers.
# ---------------------------------------------------------------------------


@register(
    "events_peak_concurrency",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ), flagged AS (
      SELECT user_id, us, event_id,
             CASE WHEN us - lag(us) OVER w >= 1800000000
                    OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY us ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_seq,
             us
      FROM flagged
    ), intervals AS (
      SELECT user_id, session_seq,
             CAST(min(us) AS BIGINT) AS start_us,
             CAST(max(us) + 1 AS BIGINT) AS end_us
      FROM sessions GROUP BY user_id, session_seq
    ), bounds AS (
      SELECT start_us AS t, 1 AS delta, user_id, session_seq FROM intervals
      UNION ALL
      SELECT end_us AS t, -1 AS delta, user_id, session_seq FROM intervals
    ), run AS (
      SELECT t, sum(delta) OVER (ORDER BY t ASC, delta ASC, user_id ASC,
                                 session_seq ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS conc
      FROM bounds
    ), peak AS (
      SELECT max(conc) AS peak_concurrency FROM run
    )
    SELECT CAST((SELECT count(*) FROM intervals) AS BIGINT) AS n_sessions,
           CAST(p.peak_concurrency AS BIGINT)               AS peak_concurrency,
           CAST((SELECT min(t) FROM run, peak
                 WHERE conc = peak_concurrency) AS BIGINT)  AS peak_at_us
    FROM peak p
    """,
    doc="Peak concurrent sessions (30-min-gap sessionization, the "
        "events_sessionize contract): sweep-line over ±1 boundary "
        "events with a (t, delta, user, session) total order — delta "
        "ASC releases before acquires at the same instant; a session "
        "occupies through end+1µs so back-to-back sessions at one "
        "instant do overlap.  Returns session count, the peak, and "
        "the first microsecond it was reached.  Scale shape: ONE "
        "user-key shuffle carries sessionization and the interval "
        "collapse; each interval explodes to its two boundaries, "
        "which are range-repartitioned on the total order; each "
        "range segment's running sum reduces to one summary row "
        "(segment sum, max of (local prefix, -t), acquire count), and "
        "one SQL aggregate() fold over the ≤ shuffle.partitions "
        "summaries in segment order carries the offset and keeps the "
        "best (offset + local prefix, -t) — the global max prefix and "
        "its first instant, ties to the earlier t.  One lineage: no "
        "checkpoint, no join back onto the boundary rows, no "
        "unpartitioned window.  Integer-exact end to end.",
    tags=("events", "session", "timeseries"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import plan_parallelism

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts_us").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("us").over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(prev.isNull() | ((F.col("us") - prev) >= 1_800_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_seq", F.sum("new_session").over(wrun))
    intervals = sessions.groupBy("user_id", "session_seq").agg(
        F.min("us").cast("bigint").alias("start_us"),
        (F.max("us") + 1).cast("bigint").alias("end_us"),
    )
    bounds = intervals.select(
        F.inline(
            F.array(
                F.struct(F.col("start_us").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("end_us").alias("t"), F.lit(-1).alias("delta")),
            )
        ),
        "user_id",
        "session_seq",
    )
    order = [F.asc("t"), F.asc("delta"), F.asc("user_id"), F.asc("session_seq")]
    # _pid is read in this one branch only (nothing joins back on it),
    # so the range segments need no checkpoint to stay identical.
    ranged = bounds.repartitionByRange(plan_parallelism(spark), *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_seg = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    segments = (
        ranged.withColumn("local_run", F.sum("delta").over(w_seg))
        .groupBy("_pid")
        .agg(
            F.sum("delta").alias("seg"),
            F.max(F.struct(F.col("local_run").alias("run"), (-F.col("t")).alias("neg_t")))
            .alias("best"),
            F.count_if(F.col("delta") == 1).alias("n_start"),
        )
    )
    # Segments in range order; `off` is the running sum of every
    # earlier segment, and greatest() ignores the NULL starting best.
    peak = segments.agg(
        F.coalesce(F.sum("n_start"), F.lit(0)).alias("n_sessions"),
        F.expr(
            """
            aggregate(
              sort_array(collect_list(struct(_pid, seg, best))),
              named_struct('off', 0L,
                           'best', CAST(NULL AS struct<run: bigint, neg_t: bigint>)),
              (acc, s) -> named_struct(
                'off', acc.off + s.seg,
                'best', greatest(acc.best, named_struct('run', acc.off + s.best.run,
                                                        'neg_t', s.best.neg_t))),
              acc -> acc.best)
            """
        ).alias("best"),
    )
    return peak.select(
        "n_sessions",
        F.col("best.run").alias("peak_concurrency"),
        (-F.col("best.neg_t")).alias("peak_at_us"),
    )


@register(
    "events_dow_hour_profile",
    oracle="""
    WITH cells AS (
      SELECT isodow(ts) AS dow, hour(ts) AS hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY dow, hour
    ), total AS (
      SELECT CAST(sum(n_events) AS BIGINT) AS n FROM cells
    )
    SELECT CAST(dow AS INTEGER)  AS dow,
           CAST(hour AS INTEGER) AS hour,
           n_events,
           floor(n_events * 1.0 / t.n * 1000000.0 + 0.5) / 1000000.0 AS share
    FROM cells CROSS JOIN total t
    """,
    doc="Weekly activity profile: event share per (ISO day-of-week, "
        "hour-of-day) cell — the 7×24 heatmap capacity planning and "
        "anomaly baselines read (the two-dimensional refinement of "
        "events_seasonal_hourly_anomaly's hour-of-day baseline).  One "
        "partial-agg shuffle to ≤168 cells, total as a 1-row "
        "broadcast; calendar fields from stored wall time, stable "
        "across consumer session timezones.  ISO numbering (Mon=1) "
        "matches DuckDB isodow to Spark weekday()+1 exactly.",
    tags=("events", "timeseries", "agg"),
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    total = cells.agg(F.sum("n_events").cast("bigint").alias("n"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hour",
        "n_events",
        pround(F.col("n_events") * F.lit(1.0) / F.col("n"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# Activity concentration — the Gini coefficient of per-user event
# counts.  "Do 1% of devices produce 90% of the stream?" decides
# whether per-key state (sessionization, dedup stores) needs salting
# and whether a sampled corpus over-represents power users.
# ---------------------------------------------------------------------------


@register(
    "events_user_gini",
    oracle="""
    WITH counts AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt ASC, user_id ASC) AS i
      FROM counts
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)      AS n_users,
             CAST(sum(cnt) AS BIGINT)      AS n_events,
             CAST(sum(i * cnt) AS BIGINT)  AS weighted
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_users, n_events,
           floor((2.0 * weighted / (n_users * CAST(n_events AS DOUBLE))
                  - (n_users + 1.0) / n_users) * 1000000.0 + 0.5)
           / 1000000.0 AS gini
    FROM agg
    """,
    doc="Gini coefficient of per-user event counts, per event type "
        "(G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending-ordered "
        "counts): 0 = every device contributes equally, →1 = a handful "
        "of hot devices dominate the stream.  Drives salting decisions "
        "for per-key state and sampling weights for corpus balance.  "
        "Scale shape: one (type, user) partial-agg shuffle, one "
        "type-key window to rank (per-type cardinality = |users|, "
        "bounded by the user base, and the rank sum is exact int64 — "
        "n·max_cnt ≪ 2^63), final agg to |event_types| rows.",
    tags=("events", "stats", "curation"),
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("cnt"), F.asc("user_id"))
    ranked = counts.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.sum(F.col("i") * F.col("cnt")).cast("bigint").alias("weighted"),
    )
    gini = (
        F.lit(2.0) * F.col("weighted") / (F.col("n_users") * F.col("n_events").cast("double"))
        - (F.col("n_users") + F.lit(1.0)) / F.col("n_users")
    )
    return agg.select(
        "event_type", "n_users", "n_events", pround(gini, 6).alias("gini")
    )


@register(
    "events_weekly_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // 604800000000 AS week
      FROM events
    ), seq AS (
      SELECT user_id, week,
             lag(week) OVER w AS prev,
             lead(week) OVER w AS nxt
      FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY week)
    ), mx AS (
      SELECT max(week) AS maxw FROM uw
    ), states AS (
      SELECT week,
             CAST(count(*) FILTER (WHERE prev IS NULL) AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE prev = week - 1) AS BIGINT) AS n_retained,
             CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev < week - 1)
                  AS BIGINT) AS n_resurrected
      FROM seq GROUP BY week
    ), churn AS (
      SELECT s.week + 1 AS week, CAST(count(*) AS BIGINT) AS n_churned
      FROM seq s CROSS JOIN mx
      WHERE (s.nxt IS NULL OR s.nxt > s.week + 1) AND s.week + 1 <= mx.maxw
      GROUP BY s.week + 1
    )
    SELECT CAST(COALESCE(st.week, ch.week) AS BIGINT) AS week_idx,
           CAST(COALESCE(st.n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(st.n_retained, 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(st.n_resurrected, 0) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
    FROM states st FULL JOIN churn ch ON st.week = ch.week
    """,
    doc="Weekly growth accounting: every active user-week classified "
        "new / retained / resurrected by the lag to their previous "
        "active week, plus churned (active week w-1, absent week w, "
        "clipped at the last observed week) — the standard growth "
        "decomposition (quick ratio = (new+resurrected)/churned) that "
        "retention cohorts and DAU/MAU stickiness don't give.  Weeks "
        "are tz-free integer epoch-week indexes (ts_us div 604800e6), "
        "so the report is session-timezone-invariant.  Scale shape: "
        "the corpus collapses to distinct (user, week) in one "
        "map-side-combine shuffle; the lag/lead pass re-clusters by "
        "user (second exchange, |users x weeks| rows, far smaller "
        "than events); state and churn rollups land on |weeks| keys, "
        "and the final outer join is between two |weeks|-row tables "
        "(AQE broadcasts).  All-integer output — no float parity "
        "hazard anywhere.",
    tags=("events", "window", "cohort"),
)
def events_weekly_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.expr("ts_us div 604800000000").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    seq = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev"),
        F.lead("week").over(w).alias("nxt"),
    # consumed by BOTH the state and churn branches — materialize the
    # |users x weeks| rows once instead of re-running distinct+window
    ).localCheckpoint(eager=False)
    mx = uw.agg(F.max("week").alias("maxw"))
    states = seq.groupBy("week").agg(
        F.count_if(F.col("prev").isNull()).cast("bigint").alias("n_new"),
        F.count_if(F.col("prev") == F.col("week") - 1).cast("bigint").alias("n_retained"),
        F.count_if(F.col("prev").isNotNull() & (F.col("prev") < F.col("week") - 1))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("maxw"))
        )
        .select((F.col("week") + 1).alias("week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    st = states.withColumnRenamed("week", "week_s")
    ch = churn.withColumnRenamed("week", "week_c")
    return st.join(ch, F.col("week_s") == F.col("week_c"), "full").select(
        F.coalesce(F.col("week_s"), F.col("week_c")).cast("bigint").alias("week_idx"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
        F.coalesce(F.col("n_retained"), F.lit(0)).cast("bigint").alias("n_retained"),
        F.coalesce(F.col("n_resurrected"), F.lit(0)).cast("bigint").alias("n_resurrected"),
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint").alias("n_churned"),
    )


# ---------------------------------------------------------------------------
# Event-id integrity audit (ingestion completeness in one aggregate)
# ---------------------------------------------------------------------------


@register(
    "events_id_integrity_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_rows,
           CAST(max(event_id) - min(event_id) + 1
                - count(DISTINCT event_id) AS BIGINT) AS n_missing_ids
    FROM events
    """,
    doc="Sequence-integrity audit of the event_id key in ONE "
        "aggregate: duplicate rows (count minus distinct) and missing "
        "ids (span minus distinct) — the at-a-glance ingestion-"
        "completeness check run before trusting any downstream count, "
        "catching both replayed batches (dups) and dropped partitions "
        "(holes) without materializing a single per-gap row.  The "
        "arithmetic identity does all the work: for a dense-by-"
        "construction id domain, |span| - |distinct| IS the missing "
        "count, so no self-join, no window, no sort.  All-integer "
        "output.  Scale shape: one exact-distinct aggregate (Spark "
        "plans count + countDistinct together via its Expand rewrite "
        "— one scan, one partially-aggregated shuffle); at 100 TB the "
        "same audit runs per ingest partition first and the partials "
        "merge, since min/max/count all decompose.",
    tags=("events", "quality", "profiling"),
)
def events_id_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct(F.col("event_id")).cast("bigint").alias("n_distinct"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("event_id")))
        .cast("bigint")
        .alias("n_dup_rows"),
        (
            F.max("event_id")
            - F.min("event_id")
            + 1
            - F.count_distinct(F.col("event_id"))
        )
        .cast("bigint")
        .alias("n_missing_ids"),
    )


# ---------------------------------------------------------------------------
# Median imputation repair (deterministic mask -> impute -> impact report)
# ---------------------------------------------------------------------------

# deterministic "missingness": ~1% of rows, same device as the stale-
# index perturbation in document_embedding_coverage — both engines
# compute the identical mask, so the repair is oracle-checkable
_IMPUTE_MOD = 97


@register(
    "events_value_impute_median",
    oracle=f"""
    WITH masked AS (
      SELECT event_type, value,
             CASE WHEN event_id % {_IMPUTE_MOD} = 0 THEN 1 ELSE 0 END AS miss
      FROM events
    ), obs AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_obs,
             quantile_cont(value, 0.5) AS med
      FROM masked WHERE miss = 0 GROUP BY event_type
    ), tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(miss) AS BIGINT) AS n_imputed
      FROM masked GROUP BY event_type
    )
    SELECT t.event_type, t.n_events, t.n_imputed,
           floor(o.med * 1000.0 + 0.5) / 1000.0 AS imputed_value,
           floor(o.cents_obs / (o.n_obs * 100.0) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_before,
           floor((o.cents_obs + t.n_imputed * (o.med * 100.0))
                 / (t.n_events * 100.0) * 1000000.0 + 0.5) / 1000000.0
             AS mean_after
    FROM tot t JOIN obs o ON o.event_type = t.event_type
    """,
    doc="Missing-value REPAIR operator: rows deterministically masked "
        f"as missing (event_id % {_IMPUTE_MOD} = 0, ~1% — the same "
        "reproducible-perturbation device document_embedding_coverage "
        "uses for its stale index) are imputed with the per-type EXACT "
        "median of the observed values, and the report shows the "
        "repair's distributional impact (observed mean vs post-impute "
        "mean).  Median imputation is the robust default for skewed "
        "telemetry (mean imputation drags toward outliers); the "
        "mean_before/mean_after gap quantifies exactly the bias the "
        "choice introduces.  Exactness: observed sums are integer "
        "cents; Spark's exact percentile() and DuckDB's quantile_cont "
        "are bit-identical on identical double multisets (verified "
        "property, see verify skill); the post-impute mean is one "
        "identical scalar tree on (int, int, exact-median) inputs.  "
        "Scale shape: two partial-agg shuffles to |types| rows (the "
        "exact median is sort-based within type partitions — swap "
        "approx_percentile at 100 TB, documented); the impact join is "
        "|types| x |types|, broadcast.",
    tags=("events", "curation", "quality"),
)
def events_value_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("event_id") % _IMPUTE_MOD == 0, 1).otherwise(0).alias("miss"),
    )
    obs = e.filter(F.col("miss") == 0).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents_obs"),
        F.expr("percentile(value, 0.5D)").alias("med"),
    )
    tot = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("miss").cast("bigint").alias("n_imputed"),
    )
    joined = tot.join(F.broadcast(obs), "event_type")
    return joined.select(
        "event_type",
        "n_events",
        "n_imputed",
        pround(F.col("med"), 3).alias("imputed_value"),
        pround(F.col("cents_obs") / (F.col("n_obs") * F.lit(100.0)), 6).alias(
            "mean_before"
        ),
        pround(
            (F.col("cents_obs") + F.col("n_imputed") * (F.col("med") * F.lit(100.0)))
            / (F.col("n_events") * F.lit(100.0)),
            6,
        ).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# Lorenz curve of per-user activity (the curve behind the Gini scalar)
# ---------------------------------------------------------------------------


@register(
    "events_lorenz_curve",
    oracle="""
    WITH uc AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), dec AS (
      SELECT event_type, c,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY c, user_id) AS decile
      FROM uc
    ), cells AS (
      SELECT event_type, decile,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS n_events
      FROM dec GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(n_events) AS BIGINT) AS t
      FROM cells GROUP BY 1
    )
    SELECT cells.event_type, CAST(decile AS INTEGER) AS decile,
           n_users, n_events,
           floor(sum(n_events) OVER (PARTITION BY cells.event_type
                                     ORDER BY decile
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                 * 1.0 / t * 1000000.0 + 0.5) / 1000000.0
             AS cum_event_share
    FROM cells JOIN tot ON tot.event_type = cells.event_type
    """,
    doc="Lorenz curve of per-user event counts per type: users cut into "
        "activity deciles (quietest first), each cell reporting its "
        "population and the CUMULATIVE share of events — the curve "
        "whose area deficit is exactly the events_user_gini scalar, "
        "and the operational view for sampling design ('the top decile "
        "emits 40% of telemetry' is read straight off decile 10's "
        "predecessor).  ntile over the (count, user_id) total order is "
        "identically defined cross-engine; counts and cumulative sums "
        "are exact int64 with one share division per cell.  Scale "
        "shape: one (type, user) partial agg, a type-keyed decile "
        "window over |users| rows, a 10-row-per-type cumulative window "
        "— every window keyed, output |types| x 10 rows.",
    tags=("events", "stats", "cohort"),
)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    uc = load_table(spark, sf_dir, "events").groupBy(
        "event_type", "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wd = Window.partitionBy("event_type").orderBy("c", "user_id")
    dec = uc.select("event_type", "c", F.ntile(10).over(wd).alias("decile"))
    cells = dec.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("t")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("decile").cast("int").alias("decile"),
            "n_users",
            "n_events",
            pround(
                F.sum("n_events").over(wc) * F.lit(1.0) / F.col("t"), 6
            ).alias("cum_event_share"),
        )
    )
