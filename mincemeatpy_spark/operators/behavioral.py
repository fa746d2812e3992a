"""Behavioral analytics over the events stream-shaped table: funnel
conversion and cohort retention.

In the reference's model each of these is a two-job MapReduce chain
(per-user reduce to collect an event timeline, then a global reduce over
the per-user outcomes — reference mincemeat.py O2+O4+O5 twice); here
both collapse to one conditional-aggregation plan with a single shuffle
on user_id, then a tiny final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.operators._util import hash60
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t


@register(
    "funnel_conversion",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
                   min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT
            CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_signup,
            CAST(sum(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_click_after,
            CAST(sum(CASE WHEN t_click > t_signup AND t_purchase > t_click
                          THEN 1 ELSE 0 END) AS BIGINT)
                AS n_purchase_after
        FROM u
        """,
    category="behavioral",
    doc="Ordered funnel signup → click → purchase: one shuffle on user_id "
    "builds per-user stage timestamps (min per stage via conditional "
    "aggregation), then a single-row rollup counts users whose stages "
    "occur in order.  NULL stage times fail the > comparison, so missing "
    "stages drop out without explicit null handling.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")

    def stage(name: str):
        return F.min(F.when(F.col("event_type") == name, F.col("ts")))

    u = e.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    ordered_click = F.col("t_click") > F.col("t_signup")
    ordered_purchase = ordered_click & (F.col("t_purchase") > F.col("t_click"))
    return u.agg(
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)).alias("n_signup"),
        F.sum(F.when(ordered_click, 1).otherwise(0)).alias("n_click_after"),
        F.sum(F.when(ordered_purchase, 1).otherwise(0)).alias("n_purchase_after"),
    )


@register(
    "retention_cohorts",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        )
        SELECT f.cohort_day,
               datediff('day', f.cohort_day, a.d) AS day_offset,
               count(*) AS n_active
        FROM activity a
        JOIN first_seen f ON f.user_id = a.user_id
        GROUP BY f.cohort_day, day_offset
        """,
    category="behavioral",
    doc="Cohort retention triangle: cohort = first active day per user; "
    "each (cohort, day-offset) cell counts distinct users active that "
    "day.  first_seen is |users| rows, so it broadcasts back onto the "
    "distinct-activity set — the fact shuffles once (user_id), never on "
    "the cohort key.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    activity = e.distinct()
    first_seen = activity.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        # No hint: first_seen is user-scale; AQE broadcasts while it fits.
        activity.join(first_seen, "user_id")
        .groupBy("cohort_day", F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "downsample_ohlc",
    oracle="""
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', ts) AS hour,
               arg_min(value, ts)  AS open,
               max(value)          AS high,
               min(value)          AS low,
               arg_max(value, ts)  AS close,
               count(*)            AS n
        FROM events
        GROUP BY event_type, hour
        """,
    category="behavioral",
    doc="Time-series OHLC downsample: hourly open/high/low/close per "
    "event type via min_by/max_by on the event timestamp — the "
    "continuous-aggregate / rollup shape, one two-phase hash aggregate "
    "(min_by partials carry (value, ts) pairs, so no window or "
    "self-join).  ts is unique per (event_type, hour) group in the "
    "fixture, so arg-extremes are deterministic.",
)
def downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    return e.groupBy("event_type", hour).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_anomaly_trailing",
    oracle="""
        WITH scored AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS v,
                   sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
                   count(*) OVER w AS n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type,
               count(*) AS n_eval,
               CAST(sum(CASE WHEN v * 10 > 3 * s THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_anomalies
        FROM scored
        WHERE n = 10
        GROUP BY event_type
        """,
    category="behavioral",
    doc="Trailing-window spike detection over the event stream: per user "
    "(in ts order) compare each value against 3x the mean of its 10 "
    "preceding events and count anomalies per event type.  The "
    "comparison is pure integer arithmetic on centi-unit fixed point "
    "(v*10 > 3*sum beats dividing by the count), so it is exact and "
    "branch-cheap; one window shuffle on user_id, then a tiny "
    "event_type aggregate.  The streaming twin of this plan is a "
    "transformWithState keyed on user_id holding a 10-deep ring buffer.",
)
def events_anomaly_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    scored = ev.select(
        "event_type",
        v.alias("v"),
        F.sum(v).over(w).alias("s"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        scored.filter(F.col("n") == 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum((F.col("v") * 10 > 3 * F.col("s")).cast("int"))
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


@register(
    "timeseries_gapfill_locf",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS day_centi
            FROM events GROUP BY user_id, day
        ),
        spine AS (
            SELECT user_id,
                   unnest(generate_series(min(day), max(day),
                                          INTERVAL 1 DAY))::DATE AS day
            FROM daily GROUP BY user_id
        ),
        filled AS (
            SELECT s.user_id, s.day, d.day_centi,
                   last_value(d.day_centi IGNORE NULLS)
                       OVER (PARTITION BY s.user_id ORDER BY s.day) AS locf
            FROM spine s LEFT JOIN daily d
              ON d.user_id = s.user_id AND d.day = s.day
        )
        SELECT user_id,
               count(*) AS n_days,
               CAST(count(day_centi) AS BIGINT) AS n_observed,
               CAST(sum(CASE WHEN day_centi IS NULL THEN locf END) AS BIGINT)
                   AS filled_centi_sum
        FROM filled
        GROUP BY user_id
        """,
    category="behavioral",
    doc="Time-series densification: per user, a complete daily date spine "
    "(sequence + explode between the user's first and last active day), "
    "left-joined to the daily totals, gaps filled by "
    "last-observation-carried-forward (last(ignorenulls) over day "
    "order).  The spine generation is expression work on the tiny "
    "per-user min/max aggregate — the fact table shuffles once for the "
    "daily rollup and once for the user window; centi-unit fixed point "
    "keeps every value integer-exact.  This is the gap-fill primitive "
    "under downsampling dashboards and retention models.",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("day_centi"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    filled = (
        spine.join(daily, ["user_id", "day"], "left_outer")
        .withColumn(
            "locf",
            F.last("day_centi", ignorenulls=True).over(
                W.partitionBy("user_id").orderBy("day")
            ),
        )
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count("day_centi").cast("bigint").alias("n_observed"),
        F.sum(F.when(F.col("day_centi").isNull(), F.col("locf")))
        .cast("bigint")
        .alias("filled_centi_sum"),
    )


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type,
               event_type AS next_type,
               count(*) AS n,
               CAST(count(*) AS DOUBLE)
                   / sum(count(*)) OVER (PARTITION BY prev_type) AS p
        FROM seq
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        """,
    category="behavioral",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag() over (user_id, ts) pairs each event with its "
    "predecessor, then one aggregate counts every (prev -> next) edge "
    "and normalizes rows into transition probabilities.  One shuffle on "
    "user_id for the sequence window (the same partitioning every "
    "per-user operator reuses), then a transition aggregate whose "
    "cardinality is |event_types|^2 — tiny at any corpus scale, so the "
    "normalizing window runs on a handful of rows.  (ts, event_id) "
    "ordering makes same-timestamp neighbors deterministic in both "
    "engines; p is a single bigint/bigint IEEE divide, bit-identical "
    "cross-engine.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    counts = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / total).alias("p"),
    )


@register(
    "events_chi2_ab",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(user_id % 2 AS INT) AS arm,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) > 60000
                        THEN 1 ELSE 0 END AS converted
            FROM events
            GROUP BY user_id
        ),
        cells AS (
            SELECT
              CAST(sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(sum(CASE WHEN arm = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
              CAST(sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
              CAST(sum(CASE WHEN arm = 1 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM u
        )
        SELECT a, b, c, d,
               round((((CAST(a + b + c + d AS DOUBLE)
                        * CAST(a * d - b * c AS DOUBLE))
                        * CAST(a * d - b * c AS DOUBLE))
                      / ((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
                         * (CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))),
                     6) AS chi2
        FROM cells
        """,
    category="behavioral",
    doc="A/B experiment readout as a 2x2 chi-square test, libm-free: arms "
    "by user_id parity, conversion = purchase spend over 600.00 (an "
    "exact centi-unit comparison), then the "
    "closed-form chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)).  The "
    "contingency cells are exact bigints from one user-keyed aggregate "
    "plus a single-row rollup; the statistic itself is a fixed "
    "parenthesization of IEEE multiplies and one divide, so it is "
    "bit-identical cross-engine without any transcendental (no p-value "
    "lookup — the caller compares chi2 against the critical value).  At "
    "100 TB this is the cheapest possible shape: one shuffle on user_id, "
    "then four counters.",
)
def events_chi2_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    spend = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("bigint"),
        ).otherwise(F.lit(0))
    )
    u = e.groupBy("user_id").agg(
        (spend > 60000).cast("int").alias("converted")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "converted")

    def cell(arm: int, conv: int):
        cond = (F.col("arm") == arm) & (F.col("converted") == conv)
        return F.sum(cond.cast("int")).cast("bigint")

    cells = u.agg(
        cell(0, 1).alias("a"), cell(0, 0).alias("b"),
        cell(1, 1).alias("c"), cell(1, 0).alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    adbc = (a * d - b * c).cast("double")
    n = (a + b + c + d).cast("double")
    den = ((a + b).cast("double") * (c + d).cast("double")) * (
        (a + c).cast("double") * (b + d).cast("double")
    )
    return cells.select(
        "a", "b", "c", "d", F.round(((n * adbc) * adbc) / den, 6).alias("chi2")
    )


@register(
    "attribution_last_touch",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN 'ch' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS VARCHAR)
                              END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_ch,
                   last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
            FROM events
        )
        SELECT CASE WHEN last_click_ts IS NOT NULL
                     AND ts <= last_click_ts + INTERVAL 7 DAY
                    THEN last_ch ELSE 'direct' END AS channel,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM seq
        WHERE event_type = 'purchase'
        GROUP BY 1
        """,
    category="behavioral",
    doc="Last-touch marketing attribution: each purchase credits the "
    "user's most recent click within a 7-day lookback, else 'direct'.  "
    "The reference would chain two MapReduce jobs (per-user timeline "
    "reduce, then a channel rollup — mincemeat.py:313-329 twice); here "
    "it is one scan of events, one shuffle on user_id for the "
    "last-non-null window (last(ignorenulls) over ROWS UNBOUNDED "
    "PRECEDING — a streaming frame, no buffering), and a tiny channel "
    "aggregate.  Revenue in exact cents; the 7-day bound is timestamp "
    "interval arithmetic, bit-identical cross-engine.  At 100 TB the "
    "window is the only shuffle and AQE handles hot users.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    ch = F.when(
        F.col("event_type") == "click",
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("bigint") % 4).cast("string"),
        ),
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.last(ch, ignorenulls=True).over(w).alias("last_ch"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    attributed = seq.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_click_ts").isNotNull()
            & (F.col("ts") <= F.col("last_click_ts") + F.expr("INTERVAL 7 DAYS")),
            F.col("last_ch"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        "cents",
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )


@register(
    "events_twap",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   epoch_us(lead(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id))
                   - epoch_us(ts) AS gap_us
            FROM events
        )
        SELECT user_id,
               CAST(sum(cents * gap_us) AS BIGINT) AS weighted_us,
               CAST(sum(gap_us) AS BIGINT) AS span_us,
               CAST(sum(cents * gap_us) AS DOUBLE) / CAST(sum(gap_us) AS DOUBLE)
                   AS twap_cents
        FROM seq
        WHERE gap_us IS NOT NULL
        GROUP BY user_id
        """,
    category="behavioral",
    doc="Time-weighted average value per user (the TWAP shape used for "
    "prices, gauge metrics, feature snapshots): each reading is held "
    "until the next one, so its weight is the gap to the successor "
    "(lead window), and the mean is sum(value*gap)/sum(gap).  All "
    "arithmetic is exact int64 (cents x microseconds; bounded ~5e16 "
    "per user, far from overflow), one shuffle on user_id shared by "
    "the window and the aggregate — Catalyst reuses the partitioning, "
    "so at 100 TB this is a single exchange.",
)
def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    )
    g = seq.where(F.col("gap_us").isNotNull()).groupBy("user_id")
    return g.agg(
        F.sum(F.col("cents") * F.col("gap_us")).alias("weighted_us"),
        F.sum("gap_us").alias("span_us"),
        (
            F.sum(F.col("cents") * F.col("gap_us")).cast("double")
            / F.sum("gap_us").cast("double")
        ).alias("twap_cents"),
    )


@register(
    "cumulative_distinct_users",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d
            FROM events GROUP BY user_id
        ),
        per_day AS (
            SELECT d, count(*) AS new_users FROM first_seen GROUP BY d
        )
        SELECT d, CAST(new_users AS BIGINT) AS new_users,
               CAST(sum(new_users) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS users_to_date
        FROM per_day
        """,
    category="behavioral",
    doc="Cumulative distinct users by day — the growth-curve query that "
    "is a trap at scale: a naive count(DISTINCT user) per day over a "
    "growing window re-scans history every day.  The scalable form is "
    "algebraic: distinct-to-date(d) = sum of first-seen counts up to d, "
    "so the plan is one user_id aggregate (min date), one tiny per-day "
    "rollup, and a running-sum window over ~365 rows.  100 TB of events "
    "reduces to |users| rows after the first shuffle and |days| rows "
    "after the second; the unbounded window runs on the day table, "
    "never the events.",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    per_day = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("users_to_date"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
        WITH stage_ts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
            FROM events GROUP BY user_id
        ),
        lag AS (
            SELECT user_id,
                   epoch_us(purchase_ts) - epoch_us(signup_ts) AS lag_us
            FROM stage_ts
            WHERE signup_ts IS NOT NULL AND purchase_ts IS NOT NULL
              AND purchase_ts >= signup_ts
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               CAST(min(lag_us) AS BIGINT) AS min_lag_us,
               CAST(max(lag_us) AS BIGINT) AS max_lag_us,
               quantile_cont(lag_us, 0.5) AS median_lag_us
        FROM lag
        """,
    category="behavioral",
    doc="Time-to-convert: per user, first signup to first purchase, "
    "summarized as count/min/max/median lag.  One conditional min "
    "aggregate per user (single shuffle — no self-join of the two "
    "event types), then a scalar rollup; the exact median interpolates "
    "between int64 microsecond lags (percentile_cont semantics match "
    "DuckDB's quantile_cont bit-for-bit on integer inputs).  At 100 TB "
    "the per-user reduce is the only O(N) stage; consider "
    "approx_percentile for the final rollup if |converted users| "
    "exceeds driver-tolerable exact-percentile state.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purchase_ts"
        ),
    )
    lag = (
        stage.where(
            F.col("signup_ts").isNotNull()
            & F.col("purchase_ts").isNotNull()
            & (F.col("purchase_ts") >= F.col("signup_ts"))
        )
        .select(
            (
                F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
            ).alias("lag_us")
        )
    )
    return lag.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_us").alias("min_lag_us"),
        F.max("lag_us").alias("max_lag_us"),
        F.percentile("lag_us", 0.5).alias("median_lag_us"),
    )


@register(
    "customer_rfm_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
            FROM orders
            GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey,
                   ntile(4) OVER (ORDER BY last_order, o_custkey) AS r,
                   ntile(4) OVER (ORDER BY frequency, o_custkey) AS f,
                   ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m,
                   monetary_cents
            FROM rfm
        )
        SELECT r, f, m,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
        FROM scored
        GROUP BY r, f, m
        """,
    category="behavioral",
    doc="RFM segmentation — recency / frequency / monetary quartiles "
    "(ntile(4), tie-broken by custkey so bucketing is total-ordered "
    "and engine-identical), rolled up to the 64-cell segment grid.  "
    "The fact table reduces to one row per customer in the first "
    "shuffle; each quartile then comes from a TWO-PHASE bucketed rank "
    "(SCALE.md rule 11, the corpus_shard_bybytes recipe): rows bucket "
    "by a fixed value range (month / frequency / $10k band), per-bucket "
    "counts give exclusive prefix offsets over the tiny bucket table, "
    "the intra-bucket row_number completes the exact global rank, and "
    "ntile(4) is derived arithmetically from (rank, n).  No "
    "unpartitioned window ever sees the customer rollup — the old form "
    "ran THREE global single-partition ntile sorts.  Monetary in exact "
    "cents.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )

    def quartile(df, value: str, bucket, out: str):
        """Exact ntile(4) over (value, o_custkey) without a global sort:
        bucket-range counts -> exclusive prefix offsets (window over the
        bucket table only) -> intra-bucket row_number -> rank -> ntile
        derived from (rank, n) with ntile's uneven-bucket fill rule."""
        d = df.select("o_custkey", value).withColumn("bkt", bucket)
        counts = d.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
        offsets = counts.withColumn(
            "off",
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        ).select("bkt", "off")
        total = counts.agg(F.sum("c").alias("n"))
        intra = Window.partitionBy("bkt").orderBy(value, "o_custkey")
        ranked = (
            d.join(F.broadcast(offsets), "bkt")
            .withColumn("rnk", F.col("off") + F.row_number().over(intra))
            .crossJoin(F.broadcast(total))
        )
        # ntile(4): first (n % 4) buckets hold (n div 4)+1 rows each.
        base, rem = F.expr("n div 4"), F.col("n") % 4
        big = rem * (base + 1)  # rows covered by the larger buckets
        nt = F.when(
            F.col("rnk") <= big, F.expr("(rnk + (n div 4)) div ((n div 4) + 1)")
        ).otherwise(
            rem + F.expr("(rnk - (n % 4) * ((n div 4) + 1) + (n div 4) - 1) div (n div 4)")
        )
        return ranked.select("o_custkey", nt.cast("int").alias(out))

    month = (F.year("last_order") * 12 + F.month("last_order")).cast("bigint")
    scored = (
        rfm.select("o_custkey", "monetary_cents")
        .join(quartile(rfm, "last_order", month, "r"), "o_custkey")
        .join(quartile(rfm, "frequency", F.col("frequency").cast("bigint"), "f"), "o_custkey")
        .join(
            quartile(
                rfm, "monetary_cents", F.expr("monetary_cents div 1000000"), "m"
            ),
            "o_custkey",
        )
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


@register(
    "session_path_topk",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM seq WHERE rn <= 3
            GROUP BY user_id
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM paths
        GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 15
        """,
    category="behavioral",
    doc="Top entry paths: each user's first three events (row_number "
    "over the deterministic (ts, event_id) order) joined into a path "
    "string, counted, top-15.  One user_id shuffle for the ordered "
    "prefix (WindowGroupLimit prunes beyond rn<=3 before the "
    "aggregate), a path rollup whose cardinality is bounded by "
    "|event_types|^3, and a TakeOrderedAndProject — no global sort.  "
    "The product-analytics 'how do journeys start' query.",
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    paths = (
        seq.where(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(15)
    )


@register(
    "events_cusum_drift",
    oracle="""
        WITH seq AS (
            SELECT event_type, ts, event_id,
                   sum(CAST(round(value * 100) AS BIGINT) - 5000)
                       OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cusum
            FROM events
        )
        SELECT event_type,
               CAST(max(cusum) AS BIGINT) AS max_cusum,
               CAST(min(cusum) AS BIGINT) AS min_cusum,
               CAST(sum(CASE WHEN cusum > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               min(CASE WHEN cusum > 1000000 THEN ts END) AS first_breach_ts
        FROM seq
        GROUP BY event_type
        """,
    category="behavioral",
    doc="CUSUM drift monitor — the classic change-point signal: running "
    "sum of (value - target) per event type in exact cents, with the "
    "max/min excursion, time above the alarm threshold, and the first "
    "breach timestamp.  One shuffle on event_type shared by the "
    "ordered window and the summary aggregate; all arithmetic is "
    "int64 so the breach row is identical cross-engine (a float "
    "running sum would drift in the last ulps and pick a different "
    "first-breach row).  At 100 TB this runs per metric key and the "
    "streaming twin is a stateful accumulator (one long per key).",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "event_type",
        "ts",
        F.sum(F.round(F.col("value") * 100).cast("bigint") - 5000)
        .over(w)
        .alias("cusum"),
    )
    return seq.groupBy("event_type").agg(
        F.max("cusum").alias("max_cusum"),
        F.min("cusum").alias("min_cusum"),
        F.sum((F.col("cusum") > 1_000_000).cast("int")).cast("bigint").alias(
            "n_above"
        ),
        F.min(F.when(F.col("cusum") > 1_000_000, F.col("ts"))).alias(
            "first_breach_ts"
        ),
    )


@register(
    "window_session_capped",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT user_id, epoch_us(ts) AS us,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        walk AS (
            SELECT user_id, rn, us, us AS anchor
            FROM e WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, e.us,
                   CASE WHEN e.us - w.us >= 600000000
                          OR e.us - w.anchor > 3600000000
                        THEN e.us ELSE w.anchor END
            FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        )
        SELECT user_id,
               anchor AS s_start_us,
               count(*) AS n_events,
               CAST(max(us) - anchor AS BIGINT) AS span_us
        FROM walk
        GROUP BY user_id, anchor
        """,
    category="behavioral",
    doc="Session windows with BOTH an inactivity gap (10 min) and a hard "
    "duration cap (1 h from session start) — the shape analytics SDKs "
    "actually ship, and one session_window() cannot express: the cap "
    "compares against the running session ANCHOR, so each break "
    "decision depends on the previous decision, not on any fixed "
    "prefix.  Inherently sequential per user → applyInPandas (one "
    "Arrow-batched ordered pass per user partition; parallel across "
    "users, linear within — exactly how a 100 TB event log "
    "sessionizes).  The oracle walks the identical recurrence as a "
    "recursive CTE; hash equality proves the stateful operator "
    "implements the declared transition function.  All arithmetic in "
    "int64 epoch-microseconds.",
)
def window_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # Group by a user-hash BUCKET, not by user: every user's rows still
    # land whole in one group (correctness), but the Arrow exchange
    # carries ~64 large batches instead of one tiny pandas DataFrame per
    # user — per-group overhead is the cost driver of grouped-map UDFs
    # at high key cardinality (measured 10.4s -> ~2s at sf0.1).  On a
    # cluster, buckets also give the scheduler evenly sized tasks.
    e = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .withColumn("bkt", F.pmod(F.col("user_id"), F.lit(64)))
    )

    GAP_US = 600_000_000
    CAP_US = 3_600_000_000

    def sessionize(pdf: pd.DataFrame) -> pd.DataFrame:
        # One sort of the whole bucket, one python pass, one final
        # groupby — no per-user DataFrame allocation (the hidden cost
        # of the naive per-group form: thousands of tiny pandas object
        # constructions).
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        uids = pdf["user_id"].to_numpy()
        # Normalize to microseconds explicitly: Arrow may deliver
        # datetime64[ns] or datetime64[us] depending on pandas/Arrow
        # version; a bare astype('int64') would be off by 1000x on the
        # us path and silently missessionize.
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        anchors = []
        prev_uid = None
        starts = prev = 0
        for uid, u in zip(uids, us):
            if uid != prev_uid or u - prev >= GAP_US or u - starts > CAP_US:
                starts = u
            prev_uid, prev = uid, u
            anchors.append(starts)
        per = pd.DataFrame({"user_id": uids, "s_start_us": anchors, "us": us})
        agg = per.groupby(["user_id", "s_start_us"], as_index=False).agg(
            n_events=("us", "size"), last_us=("us", "max")
        )
        agg["span_us"] = agg["last_us"] - agg["s_start_us"]
        return agg[["user_id", "s_start_us", "n_events", "span_us"]]

    return e.groupBy("bkt").applyInPandas(
        sessionize,
        schema="user_id long, s_start_us long, n_events long, span_us long",
    )


@register(
    "orders_backlog_daily",
    oracle="""
        WITH iv AS (
            SELECT CAST(o_orderdate AS DATE) AS opened,
                   CAST(o_orderdate AS DATE)
                       + CAST((o_orderkey % 30 + 1) AS INTEGER) AS closed
            FROM orders
        ),
        deltas AS (
            SELECT opened AS d, 1 AS delta FROM iv
            UNION ALL
            SELECT closed AS d, -1 AS delta FROM iv
        ),
        per_day AS (
            SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d
        )
        SELECT d,
               net,
               CAST(sum(net) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_orders
        FROM per_day
        """,
    category="behavioral",
    doc="Open-interval backlog over time (orders open on each day, close "
    "date derived deterministically from the key) — the interval-"
    "stabbing query that is a scale trap done naively: counting 'open "
    "on day D' per day re-scans every interval per day (O(days x "
    "orders)).  The scalable form converts each interval to +1/-1 "
    "boundary deltas, aggregates to day grain (one shuffle, day-keyed "
    "partials), and runs the running sum over the ~|days| row table "
    "only.  Same algebraic-delta trick as cumulative_distinct_users; "
    "at 100 TB the window input is thousands of rows regardless of "
    "order count.",
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("opened"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30 + 1).cast("int"),
        ).alias("closed"),
    )
    deltas = o.select(F.col("opened").alias("d"), F.lit(1).alias("delta")).unionAll(
        o.select(F.col("closed").alias("d"), F.lit(-1).alias("delta"))
    )
    per_day = deltas.groupBy("d").agg(F.sum("delta").cast("bigint").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "d", "net", F.sum("net").over(w).cast("bigint").alias("open_orders")
    )


@register(
    "events_churn_cohorts",
    oracle="""
        WITH bounds AS (SELECT max(ts) AS mx FROM events),
        users AS (
            SELECT user_id,
                   CAST(date_trunc('month', min(ts)) AS DATE) AS cohort,
                   max(ts) AS last_ts
            FROM events GROUP BY user_id
        )
        SELECT cohort,
               count(*) AS n_users,
               CAST(sum(CASE WHEN last_ts < b.mx - INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        FROM users, bounds b
        GROUP BY cohort
        """,
    category="behavioral",
    doc="Churn by signup cohort: a user is churned when their last event "
    "is more than 7 days before the corpus watermark (max ts — the "
    "'now' of the dataset).  One user-grain aggregate (first event "
    "month + last activity), a scalar watermark cross-joined in "
    "(1 row, broadcast), then a cohort rollup over |users| rows.  The "
    "100 TB shape: the only fact-sized stage is the per-user min/max "
    "agg, everything after runs on user- then month-cardinality "
    "tables.",
)
def events_churn_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("cohort"),
        F.max("ts").alias("last_ts"),
    )
    bounds = e.agg(F.max("ts").alias("mx"))
    j = users.join(F.broadcast(bounds))
    churned = F.col("last_ts") < F.col("mx") - F.expr("INTERVAL 7 DAY")
    return j.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(churned.cast("int")).cast("bigint").alias("n_churned"),
    )


@register(
    "events_heatmap_hour_dow",
    oracle="""
        SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hr,
               count(*) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1, 2
        """,
    category="behavioral",
    doc="Activity heatmap: events and distinct users by hour-of-day x "
    "day-of-week — the 7x24 usage fingerprint behind load forecasting "
    "and anomaly baselines.  One aggregate, 168 output cells at any "
    "input scale; the distinct count shuffles (dow, hr, user_id) "
    "partials, which partial aggregation collapses to near-distinct "
    "cardinality before the exchange.  Spark numbers dayofweek "
    "1=Sunday where DuckDB uses 0=Sunday, so the oracle shifts by "
    "one — the cross-engine off-by-one the oracle gate exists to "
    "catch.",
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "orders_seasonality_trend",
    oracle="""
        WITH monthly AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY 1
        ),
        trended AS (
            SELECT m, cents,
                   CAST(sum(cents) OVER (ORDER BY m ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS win_cents,
                   count(*) OVER (ORDER BY m ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW) AS win_n
            FROM monthly
        )
        SELECT m, cents,
               CAST(win_cents // win_n AS BIGINT) AS trend_cents,
               round(CAST(cents AS DOUBLE)
                     / (CAST(win_cents AS DOUBLE) / win_n), 6) AS seasonal_idx
        FROM trended
        """,
    category="behavioral",
    doc="Seasonality readout: monthly revenue against its trailing "
    "3-month moving-average trend; the ratio is the seasonal index "
    "(>1 = above trend).  The window runs over the month-grain rollup "
    "— dozens of rows — never the orders; integer cents keep the "
    "trend exact (floor-div for the integer column, one double "
    "division for the index).  The same two-tier shape (fact rollup, "
    "then window on the tiny series) is how every 100 TB time-series "
    "decomposition should be planned.",
)
def orders_seasonality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    w = Window.orderBy("m").rowsBetween(-2, 0)
    trended = monthly.select(
        "m",
        "cents",
        F.sum("cents").over(w).alias("win_cents"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    )
    return trended.select(
        "m",
        "cents",
        F.expr("win_cents div win_n").cast("bigint").alias("trend_cents"),
        F.round(
            F.col("cents").cast("double")
            / (F.col("win_cents").cast("double") / F.col("win_n")),
            6,
        ).alias("seasonal_idx"),
    )


@register(
    "orders_cohort_ltv",
    oracle="""
        WITH first_order AS (
            SELECT o_custkey,
                   CAST(date_trunc('month', min(o_orderdate)) AS DATE)
                       AS cohort
            FROM orders GROUP BY o_custkey
        ),
        monthly AS (
            SELECT f.cohort,
                   datediff('month', f.cohort,
                            CAST(date_trunc('month', o.o_orderdate) AS DATE))
                       AS offset_m,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cohort, count(*) AS n_customers
            FROM first_order GROUP BY cohort
        )
        SELECT m.cohort, m.offset_m,
               CAST(sum(m.cents) OVER (PARTITION BY m.cohort ORDER BY m.offset_m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents,
               s.n_customers,
               CAST(sum(m.cents) OVER (PARTITION BY m.cohort ORDER BY m.offset_m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    // s.n_customers AS BIGINT) AS ltv_cents_per_customer
        FROM monthly m JOIN sizes s USING (cohort)
        """,
    category="behavioral",
    doc="Cohort LTV curves: customers grouped by first-order month, "
    "revenue accumulated by months-since-acquisition — cumulative and "
    "per-customer (exact integer cents, floor-div).  The companion to "
    "retention_cohorts with money instead of presence.  Fact work is "
    "two customer-keyed aggregates (first-order month, then "
    "cohort x offset rollup joined through the broadcastable "
    "first_order table); the running sum operates on the "
    "cohort x offset grid — a few hundred rows at any input scale.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_order = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    monthly = (
        # No hint: first_order is customer-scale; AQE broadcasts while it fits.
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(F.col("m"), F.col("cohort")).cast("int").alias("offset_m"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    sizes = first_order.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    w = Window.partitionBy("cohort").orderBy("offset_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("cents").over(w)
    return (
        monthly.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "offset_m",
            cum.cast("bigint").alias("cum_cents"),
            "n_customers",
        )
        .withColumn(
            "ltv_cents_per_customer",
            F.expr("cum_cents div n_customers").cast("bigint"),
        )
    )


@register(
    "sessions_peak_concurrency",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id,
                   min(ts) AS s_start,
                   max(ts) + INTERVAL 10 MINUTE AS s_end
            FROM (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS sid
                  FROM gaps)
            GROUP BY user_id, sid
        ),
        deltas AS (
            SELECT s_start AS t, 1 AS delta, user_id FROM sess
            UNION ALL
            SELECT s_end, -1, user_id FROM sess
        ),
        running AS (
            SELECT t, delta,
                   sum(delta) OVER (ORDER BY t, delta, user_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS live
            FROM deltas
        )
        SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
               CAST(min(CASE WHEN live = (SELECT max(live) FROM running)
                        THEN epoch_us(t) END) AS BIGINT) AS first_peak_us,
               (SELECT count(*) FROM sess) AS n_sessions
        FROM running
        """,
    category="behavioral",
    doc="Peak concurrent sessions — the capacity-planning MAX over the "
    "same boundary-delta encoding orders_backlog_daily uses for its "
    "daily SUM: sessions (10-min-gap, session end = last event + gap, "
    "matching window_session) become +1/-1 deltas, a running sum over "
    "the boundary stream is the live-session count, and the answer is "
    "its max plus the first instant it is reached.  Tie rule: an end "
    "sorts before a coincident start (delta -1 < +1), so back-to-back "
    "sessions never double-count.  The running sum is over session "
    "BOUNDARIES (2 rows per session, not per event), computed with the "
    "two-phase bucket prefix sum of corpus_shard_bybytes: per-hour "
    "subtotals, an offset window over the tiny bucket table only, then "
    "intra-bucket windows — no unpartitioned window over the stream, "
    "and peak + first-peak + session count come out of ONE final "
    "aggregate (max over a (live, -t) struct), no mid-plan collect.  "
    "Exact int64 microseconds end to end.",
)
def sessions_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"))
    )
    deltas = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"), "user_id")
    )
    # Phase 1 (corpus_shard_bybytes recipe): hour buckets — a prefix of
    # the (t, delta, user_id) sort order — give per-bucket delta
    # subtotals (one row per hour of history, thousands at 100 TB); the
    # exclusive-prefix window runs over that tiny bucket table only.
    deltas = deltas.withColumn(
        "bkt", (F.unix_micros("t") / F.lit(3_600_000_000)).cast("bigint")
    )
    offsets = (
        deltas.groupBy("bkt")
        .agg(F.sum("delta").alias("bkt_delta"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_delta").over(
                    Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    # Phase 2: intra-bucket running sum + broadcast offset join — the
    # boundary stream never passes through a single partition.
    intra = Window.partitionBy("bkt").orderBy("t", "delta", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    running = deltas.join(F.broadcast(offsets), "bkt").select(
        "t",
        "delta",
        (F.col("offset") + F.sum("delta").over(intra)).alias("live"),
    )
    # ONE final aggregate, no mid-plan collect: max over a (live, -t)
    # struct yields the peak and its first instant together; positive
    # deltas count sessions.
    best = F.max(
        F.struct(F.col("live").alias("live"), (-F.unix_micros("t")).alias("neg_us"))
    )
    return running.agg(
        best.alias("b"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("ns"),
    ).select(
        F.col("b.live").cast("bigint").alias("peak_concurrent"),
        (-F.col("b.neg_us")).cast("bigint").alias("first_peak_us"),
        F.col("ns").cast("bigint").alias("n_sessions"),
    )


@register(
    "events_rolling_distinct_users",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
            FROM events
        ),
        days AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
            FROM bounds
        )
        SELECT d,
               (SELECT count(DISTINCT user_id) FROM events e
                WHERE CAST(e.ts AS DATE) BETWEEN d - 6 AND d)
                   AS rolling_users
        FROM days
        """,
    category="behavioral",
    doc="Rolling 7-day distinct users (rolling WAU/MAU shape) for every "
    "day — the scale trap is a per-day count(DISTINCT) that re-scans a "
    "week of history per day.  The linear encoding: per (user, active "
    "day) with the NEXT active day via lag/lead, the user's presence "
    "in windows ending on d is exactly d in [a, min(a+6, next-1)] — an "
    "interval, so each pair becomes a +1/-1 delta and the rolling "
    "count is a prefix sum over the DAY table (tiny by construction).  "
    "100 TB of events reduces to distinct (user, day) in one shuffle, "
    "one user-partitioned lead window, a per-day delta rollup, and a "
    "days-only running sum.  The oracle states the quadratic "
    "definition directly; both are exact integers.",
)
def events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    active = e.distinct()
    nxt = F.lead("d").over(Window.partitionBy("user_id").orderBy("d"))
    iv = active.select(
        "d",
        F.least(
            F.date_add(F.col("d"), 6),
            F.coalesce(F.date_sub(nxt, 1), F.date_add(F.col("d"), 6)),
        ).alias("end_d"),
    )
    deltas = (
        iv.select(F.col("d").alias("day"), F.lit(1).alias("delta"))
        .unionAll(
            iv.select(F.date_add("end_d", 1).alias("day"), F.lit(-1).alias("delta"))
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("delta"))
    )
    bounds = e.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(deltas, days.d == deltas.day, "left")
        .select("d", F.coalesce("delta", F.lit(0)).alias("delta"))
        .select("d", F.sum("delta").over(w).cast("bigint").alias("rolling_users"))
    )


@register(
    "events_lateness_profile",
    oracle="""
        WITH ordered AS (
            SELECT event_id, ts,
                   max(ts) OVER (ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS hwm
            FROM events
        ),
        late AS (
            SELECT CASE
                     WHEN epoch_us(hwm) = epoch_us(ts) THEN -1
                     ELSE CAST(floor(log2((epoch_us(hwm) - epoch_us(ts))
                                          / 60000000.0 + 1)) AS INT)
                   END AS lateness_bucket
            FROM ordered
        )
        SELECT lateness_bucket, count(*) AS n_events
        FROM late
        GROUP BY lateness_bucket
        """,
    category="behavioral",
    doc="Event out-of-orderness profile — the measurement that picks a "
    "streaming watermark delay: against the high-water mark of event "
    "time in arrival order (event_id is the fixture's arrival proxy), "
    "each event's lateness falls in a log2 minute bucket (-1 = on "
    "time / new high-water mark); the histogram's tail is the late "
    "fraction a given withWatermark() would drop.  The running max "
    "uses the two-phase bucket recipe (SCALE.md rule 11): per-chunk "
    "maxima over event_id ranges, an exclusive prefix max over the "
    "tiny chunk table, intra-chunk running max — the event stream "
    "never passes through one partition.  Exact integer microseconds; "
    "log2 of an integer-derived double is correctly rounded and "
    "bucketed identically in both engines.",
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    # Phase 1: chunk by event_id range (a prefix of the arrival order),
    # per-chunk max, exclusive prefix max over the tiny chunk table.
    d = e.withColumn("bkt", F.expr("event_id div 10000"))
    offsets = (
        d.groupBy("bkt")
        .agg(F.max("us").alias("bkt_max"))
        .withColumn(
            "prev_max",
            F.max("bkt_max").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("bkt", "prev_max")
    )
    intra = Window.partitionBy("bkt").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hwm = F.greatest(
        F.coalesce(F.col("prev_max"), F.lit(-(1 << 62))),
        F.max("us").over(intra),
    )
    late_us = hwm - F.col("us")
    bucket = F.when(late_us == 0, F.lit(-1)).otherwise(
        F.floor(F.log2(late_us.cast("double") / 60_000_000.0 + 1)).cast("int")
    )
    return (
        d.join(F.broadcast(offsets), "bkt")
        .select(bucket.alias("lateness_bucket"))
        .groupBy("lateness_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "features_user_assemble",
    oracle="""
        WITH top_type AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY n DESC, event_type) AS rk
            FROM (SELECT user_id, event_type, count(*) AS n
                  FROM events GROUP BY user_id, event_type)
        ),
        base AS (
            SELECT user_id,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   count(DISTINCT CAST(ts AS DATE)) AS n_days,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                        // count(*) AS BIGINT) AS mean_value_micros
            FROM events GROUP BY user_id
        )
        SELECT b.user_id,
               concat_ws(',', b.n_events, b.n_types, b.n_days,
                         b.mean_value_micros) AS features,
               concat_ws(',',
                CASE WHEN t.event_type = 'click'    THEN 1 ELSE 0 END,
                CASE WHEN t.event_type = 'view'     THEN 1 ELSE 0 END,
                CASE WHEN t.event_type = 'purchase' THEN 1 ELSE 0 END,
                CASE WHEN t.event_type NOT IN ('click','view','purchase')
                     THEN 1 ELSE 0 END) AS top_type_onehot
        FROM base b
        JOIN top_type t ON t.user_id = b.user_id AND t.rk = 1
        """,
    category="behavioral",
    doc="Feature assembly — the feature-store export step that turns raw "
    "events into per-entity ML feature vectors: numeric features "
    "(event count, type cardinality, active days, mean value in exact "
    "integer micro-units with floor division) packed into a vector, "
    "plus a deterministic one-hot of the user's modal event "
    "type (count-desc, name-asc tie-break; unknown types fold into an "
    "OOV slot — the fixed-vocabulary contract a training job needs).  "
    "One shuffle on user_id produces everything; vectors assemble "
    "scan-side after the aggregate.  Emitted comma-joined (a real "
    "feature-store export would keep the arrays; driver-facing final "
    "schemas must stay flat — see oracle_utils."
    "assert_driver_canon_compatible).",
)
def features_user_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
        F.expr(
            "CAST(sum(CAST(round(value * 1000000) AS BIGINT)) div count(*) AS BIGINT)"
        ).alias("mean_value_micros"),
    )
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    top = (
        counts.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("n").desc(), "event_type"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type")
    )
    onehot = F.array(
        *[
            F.when(F.col("event_type") == v, 1).otherwise(0)
            for v in ("click", "view", "purchase")
        ],
        F.when(~F.col("event_type").isin("click", "view", "purchase"), 1).otherwise(0),
    )
    return base.join(top, "user_id").select(
        "user_id",
        F.concat_ws(
            ",", "n_events", "n_types", "n_days", "mean_value_micros"
        ).alias("features"),
        F.array_join(
            F.transform(onehot, lambda x: x.cast("string")), ","
        ).alias("top_type_onehot"),
    )


@register(
    "events_audience_overlap",
    oracle="""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events
        ),
        sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_overlap,
               sa.n AS n_a, sb.n AS n_b,
               round(count(*)::DOUBLE / (sa.n + sb.n - count(*)), 6)
                   AS jaccard
        FROM ut a
        JOIN ut b ON b.user_id = a.user_id AND a.event_type < b.event_type
        JOIN sizes sa ON sa.event_type = a.event_type
        JOIN sizes sb ON sb.event_type = b.event_type
        GROUP BY a.event_type, b.event_type, sa.n, sb.n
        """,
    category="behavioral",
    doc="Audience-overlap matrix — for every pair of event types, how "
    "many users do both (plus each audience's size and the Jaccard "
    "overlap): the segmentation readout behind 'do purchasers also "
    "browse'.  The co-occurrence self-join runs on the DEDUPED "
    "(user, type) grain — |users| x |types| rows, never raw events — "
    "and pairs per user are bounded by the type vocabulary (k choose "
    "2, single digits), so the join output is linear in users.  The "
    "same plan with HLL sketches per cell is the approximate path "
    "when the type vocabulary is large.",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    jac = F.col("n_overlap").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_overlap")
    )
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a", "type_b", "n_overlap", "n_a", "n_b",
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "events_ab_srm_check",
    oracle="""
        WITH assign AS (
            SELECT DISTINCT user_id,
                   CASE WHEN user_id % 100 < 52 THEN 'A' ELSE 'B' END
                       AS variant
            FROM events
        ),
        counts AS (
            SELECT sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
                   sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b
            FROM assign
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(round(1000000.0 * (n_a - n_b) * (n_a - n_b)
                          / (n_a + n_b)) AS BIGINT) AS chi2_micros,
               CASE WHEN 1000000.0 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b)
                         > 3841459.0
                    THEN 1 ELSE 0 END AS srm_flag
        FROM counts
        """,
    category="behavioral",
    doc="Sample-ratio-mismatch guardrail — the FIRST check any A/B "
    "readout must pass (a biased assignment invalidates every "
    "downstream metric before events_chi2_ab even runs): distinct "
    "users per variant vs the expected 50/50, chi-square with 1 dof "
    "= (n_a - n_b)^2 / n in exact integer micro-units, flagged above "
    "the 0.05 critical value 3.841459.  The fixture's deterministic "
    "52/48 assignment (user_id % 100 < 52) plants a real mismatch so "
    "the flag's firing is itself under test.  One distinct-user "
    "aggregate; the chi-square is driver-free scalar arithmetic on "
    "two counts.",
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "variant",
            F.when(F.col("user_id") % 100 < 52, "A").otherwise("B"),
        )
    )
    counts = assign.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("n_b"),
    )
    chi2 = (
        F.lit(1_000_000.0)
        * (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return counts.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(chi2).cast("bigint").alias("chi2_micros"),
        F.when(chi2 > 3_841_459.0, 1).otherwise(0).alias("srm_flag"),
    )


@register(
    "events_bot_regularity_filter",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        ),
        g AS (SELECT user_id, gap_us FROM gaps WHERE gap_us IS NOT NULL),
        med AS (
            SELECT user_id, count(*) AS n_gaps,
                   quantile_cont(gap_us, 0.5) AS med_gap
            FROM g GROUP BY user_id
        ),
        mad AS (
            SELECT g.user_id,
                   quantile_cont(abs(g.gap_us - m.med_gap), 0.5) AS mad_gap
            FROM g JOIN med m ON m.user_id = g.user_id
            GROUP BY g.user_id
        ),
        scored AS (
            SELECT m.user_id, m.n_gaps, m.med_gap, d.mad_gap,
                   CASE WHEN m.n_gaps >= 5 AND d.mad_gap * 10 < m.med_gap
                        THEN 1 ELSE 0 END AS is_bot
            FROM med m JOIN mad d ON d.user_id = m.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users_scored,
               CAST(sum(is_bot) AS BIGINT) AS n_flagged,
               min(CASE WHEN is_bot = 1 THEN user_id END) AS example_bot
        FROM scored
        """,
    category="behavioral",
    doc="Bot/automation detection by inter-event timing regularity — the "
    "abuse filter a training-data pipeline runs before user-generated "
    "content enters a corpus: humans have heavy-tailed inter-event "
    "gaps, schedulers fire metronomically, so a user whose gap MAD is "
    "under 10% of their median gap (with >= 5 gaps observed) is "
    "flagged.  Robust statistics (median/MAD, not mean/stddev) resist "
    "the exact long-tail outliers that make variance useless here.  "
    "Plan: one user-partitioned lag window, two grouped exact "
    "percentile aggregates (per-user groups are session-sized; the "
    "approx_percentile sketch swaps in for whale users), a user-keyed "
    "join reusing the same partitioning, and a three-number corpus "
    "rollup.  Exact integer microsecond gaps; quantile_cont "
    "interpolation is bit-identical across engines.",
)
def events_bot_regularity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = (
        e.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", "gap_us")
    )
    med = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(gap_us, 0.5)").alias("med_gap"),
    )
    mad = (
        g.join(med.select("user_id", "med_gap"), "user_id")
        .groupBy("user_id")
        .agg(F.expr("percentile(abs(gap_us - med_gap), 0.5)").alias("mad_gap"))
    )
    scored = med.join(mad, "user_id").withColumn(
        "is_bot",
        F.when(
            (F.col("n_gaps") >= 5) & (F.col("mad_gap") * 10 < F.col("med_gap")), 1
        ).otherwise(0),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_scored"),
        F.sum("is_bot").cast("bigint").alias("n_flagged"),
        F.min(F.when(F.col("is_bot") == 1, F.col("user_id"))).alias("example_bot"),
    )


@register(
    "orders_interpurchase_intervals",
    oracle="""
        WITH seq AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
            FROM orders
        ),
        g AS (SELECT o_custkey, gap_days FROM seq WHERE gap_days IS NOT NULL)
        SELECT CAST(count(*) AS BIGINT) AS n_intervals,
               quantile_cont(gap_days, 0.25) AS p25,
               quantile_cont(gap_days, 0.5)  AS p50,
               quantile_cont(gap_days, 0.9)  AS p90,
               CAST(max(gap_days) AS BIGINT) AS p_max
        FROM g
        """,
    category="behavioral",
    doc="Inter-purchase interval distribution — the repeat-behavior "
    "cadence readout that sets churn thresholds and re-engagement "
    "timing (a customer is 'lapsed' past the p90 gap, not past an "
    "arbitrary 30 days): per-customer ordered purchase gaps in whole "
    "days via one customer-partitioned lag window, then corpus-level "
    "exact percentiles.  Deterministic (o_orderdate, o_orderkey) "
    "ordering; integer day gaps make quantile_cont interpolation "
    "bit-identical across engines.  One keyed window shuffle plus a "
    "single percentile aggregate.",
)
def orders_interpurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.withColumn(
            "gap_days", F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        )
        .filter(F.col("gap_days").isNotNull())
        .select("gap_days")
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.expr("percentile(gap_days, 0.25)").alias("p25"),
        F.expr("percentile(gap_days, 0.5)").alias("p50"),
        F.expr("percentile(gap_days, 0.9)").alias("p90"),
        F.max("gap_days").cast("bigint").alias("p_max"),
    )


@register(
    "sessions_funnel_conversion",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts, event_type,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM gaps
        ),
        per_sess AS (
            SELECT user_id, sid,
                   min(CASE WHEN event_type = 'click' THEN ts END)
                       AS first_click,
                   max(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS last_purchase
            FROM sess
            GROUP BY user_id, sid
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN first_click IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_with_click,
               CAST(sum(CASE WHEN first_click IS NOT NULL
                         AND last_purchase > first_click
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
               CAST((1000000 * sum(CASE WHEN first_click IS NOT NULL
                                    AND last_purchase > first_click
                                   THEN 1 ELSE 0 END))
                    // nullif(sum(CASE WHEN first_click IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS conversion_ppm
        FROM per_sess
        """,
    category="behavioral",
    doc="Session-scoped funnel conversion — the within-visit metric the "
    "user-lifetime funnel (funnel_conversion) can't express: of the "
    "sessions (10-min gap, matching window_session) that contain a "
    "click, how many convert to a purchase AFTER that click in the "
    "SAME session.  The stage test is conditional min/max event times "
    "inside the session aggregate — one session_window groupBy, no "
    "second pass over events — and the rate is exact integer ppm "
    "(floor cross-multiplication).  Session boundary semantics are "
    "identical to the oracle's gaps-and-islands encoding.",
)
def sessions_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per_sess = (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
                "first_click"
            ),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "last_purchase"
            ),
        )
    )
    with_click = F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
    converted = F.when(
        F.col("first_click").isNotNull()
        & (F.col("last_purchase") > F.col("first_click")),
        1,
    ).otherwise(0)
    return per_sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(with_click).cast("bigint").alias("n_with_click"),
        F.sum(converted).cast("bigint").alias("n_converted"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN first_click IS NOT NULL "
            "AND last_purchase > first_click THEN 1 ELSE 0 END)) div "
            "nullif(sum(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END), 0) "
            "AS BIGINT)"
        ).alias("conversion_ppm"),
    )


@register(
    "attribution_first_vs_last",
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts AS p_ts, event_id AS p_id
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT p.user_id, p.p_id,
                   min_by(e.event_type,
                          printf('%020d-%010d', epoch_us(e.ts), e.event_id))
                       AS first_touch,
                   max_by(e.event_type,
                          printf('%020d-%010d', epoch_us(e.ts), e.event_id))
                       AS last_touch
            FROM purchases p
            JOIN events e
              ON e.user_id = p.user_id
             AND e.event_type IN ('click', 'view', 'signup')
             AND e.ts < p.p_ts
             AND e.ts >= p.p_ts - INTERVAL 7 DAY
            GROUP BY p.user_id, p.p_id
        )
        SELECT first_touch, last_touch,
               count(*) AS n_purchases,
               CAST(sum(CASE WHEN first_touch <> last_touch
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_differs
        FROM touches
        GROUP BY first_touch, last_touch
        """,
    category="behavioral",
    doc="First-touch vs last-touch attribution, compared — the "
    "measurement that decides whether the attribution model even "
    "matters (when the two models agree, the argument is moot): for "
    "every purchase, the earliest AND latest qualifying touch in the "
    "7-day lookback come from ONE aggregate via min_by/max_by over "
    "a zero-padded lexicographic (ts, event_id) key — no windows, no "
    "second scan — "
    "and the (first, last) matrix counts where credit would move.  "
    "The time-banded join shuffles on user_id; at 100 TB the "
    "lookback bound keeps each purchase's touch set small and the "
    "min_by/max_by partials combine map-side.",
)
def attribution_first_vs_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    touches_src = e.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
    )
    ordkey = F.format_string(
        "%020d-%010d", F.unix_micros(F.col("t_ts")), F.col("t_id")
    )
    touches = (
        purchases.join(
            touches_src,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("t_ts") < F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("user_id", "p_id")
        .agg(
            F.min_by("t_type", ordkey).alias("first_touch"),
            F.max_by("t_type", ordkey).alias("last_touch"),
        )
    )
    return touches.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(
            F.when(F.col("first_touch") != F.col("last_touch"), 1).otherwise(0)
        ).cast("bigint").alias("n_differs"),
    )


@register(
    "events_new_vs_returning_daily",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS first_d
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        )
        SELECT a.d,
               CAST(sum(CASE WHEN f.first_d = a.d THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN f.first_d < a.d THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning
        FROM active a JOIN first_seen f ON f.user_id = a.user_id
        GROUP BY a.d
        """,
    category="behavioral",
    doc="Daily new-vs-returning split — the growth-quality readout "
    "(raw DAU hides whether growth is acquisition or retention): "
    "each day's distinct actives classify by whether that day is the "
    "user's first-seen day.  Both inputs reduce at the user grain "
    "first (first-seen aggregate, user-day dedup) and join on the "
    "8-byte user key — per-day classification never rescans events, "
    "the same algebraic restatement as cumulative_distinct_users.",
)
def events_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("first_d"))
    active = e.distinct()
    return (
        active.join(first_seen, "user_id")
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("first_d") == F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("first_d") < F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
    )


_ALERT_THRESHOLD = 100.0  # ~p88 of the fixture's value distribution
_ALERT_MIN_RUN = 3


@register(
    "events_alert_debounce",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN value > {_ALERT_THRESHOLD} THEN 1 ELSE 0 END AS f
            FROM events
        ),
        runs AS (
            SELECT user_id, ts, f,
                   row_number() OVER w
                   - sum(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS grp
            FROM flagged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        episodes AS (
            SELECT user_id, grp, count(*) AS run_len, min(ts) AS run_start
            FROM runs WHERE f = 1
            GROUP BY user_id, grp
        ),
        alerts AS (
            SELECT user_id, run_len, run_start
            FROM episodes WHERE run_len >= {_ALERT_MIN_RUN}
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_alerts,
               CAST(max(run_len) AS BIGINT) AS longest_run,
               min(run_start) AS first_alert_ts
        FROM alerts
        GROUP BY user_id
        """,
    category="behavioral",
    doc="Debounced threshold alerting — the monitoring pattern that "
    "separates a real incident from a blip: an alert fires only when a "
    "user's value exceeds the threshold for >= 3 CONSECUTIVE events "
    "(gaps-and-islands run grouping: row_number minus running flag sum "
    "is constant within a breach run), reported as episodes with "
    "length and start time.  Deterministic tie-break (ts, event_id) "
    "makes run boundaries exact.  One shuffle on user_id feeds both "
    "windows and the episode aggregate; at 100 TB this is the same "
    "single-partition-by-key shape as sessionization, and the "
    "streaming twin is applyInPandasWithState with a run-length "
    "counter as O(1) per-key state.",
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") > _ALERT_THRESHOLD).cast("int").alias("f"),
    )
    runs = flagged.select(
        "user_id",
        "ts",
        "f",
        (
            F.row_number().over(w)
            - F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("grp"),
    )
    episodes = (
        runs.filter(F.col("f") == 1)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"), F.min("ts").alias("run_start"))
    )
    return (
        episodes.filter(F.col("run_len") >= _ALERT_MIN_RUN)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.max("run_len").cast("bigint").alias("longest_run"),
            F.min("run_start").alias("first_alert_ts"),
        )
    )


@register(
    "events_decay_engagement",
    oracle="""
        WITH hw AS (SELECT max(ts) AS m FROM events),
        scored AS (
            SELECT user_id,
                   CAST(round(value * 100) AS BIGINT)
                       >> least(date_diff('day', CAST(ts AS DATE),
                                          CAST((SELECT m FROM hw) AS DATE)),
                                40) AS dc
            FROM events
        )
        SELECT user_id,
               CAST(sum(dc) AS BIGINT) AS decayed_cents,
               CAST(count(*) AS BIGINT) AS n_events
        FROM scored
        GROUP BY user_id
        ORDER BY decayed_cents DESC, user_id
        LIMIT 20
        """,
    category="behavioral",
    doc="Recency-decayed engagement score with EXACT arithmetic: each "
    "event's value (in cents) right-shifts by its age in days vs the "
    "corpus high-water mark — a half-life of one day as a bigint bit "
    "shift, so the 'exponential decay' is integer floor division by "
    "2^age and the per-user sum is order/partition-independent (float "
    "exp() decay would drift by summation order).  Age clamps at 40 "
    "days (past ~2^40 the contribution is zero anyway).  The "
    "high-water mark rides in-plan as a broadcast scalar; top-20 via "
    "TakeOrderedAndProject.  The recency-weighted ranking pattern "
    "(CRM scoring, feed ranking features) on one user-keyed shuffle.",
)
def events_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    hw = e.agg(F.max("ts").alias("m"))
    dc = F.expr(
        "shiftright(cast(round(value * 100) as bigint),"
        " least(datediff(cast(m as date), cast(ts as date)), 40))"
    )
    return (
        e.crossJoin(F.broadcast(hw))
        .select("user_id", dc.alias("dc"))
        .groupBy("user_id")
        .agg(
            F.sum("dc").cast("bigint").alias("decayed_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.col("decayed_cents").desc(), "user_id")
        .limit(20)
    )


@register(
    "events_ab_cuped",
    oracle="""
        WITH b AS (
            SELECT CAST(min(CAST(ts AS DATE)) AS DATE) + 15 AS cut FROM events
        ),
        per_user AS (
            SELECT user_id, user_id % 2 AS arm,
                   CAST(sum(CASE WHEN CAST(ts AS DATE) < (SELECT cut FROM b)
                            THEN round(value * 100) ELSE 0 END) AS BIGINT) AS pre_c,
                   CAST(sum(CASE WHEN CAST(ts AS DATE) >= (SELECT cut FROM b)
                            THEN round(value * 100) ELSE 0 END) AS BIGINT) AS post_c
            FROM events GROUP BY user_id
        ),
        mo AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pre_c) AS BIGINT) AS sx,
                   CAST(sum(post_c) AS BIGINT) AS sy,
                   CAST(sum(pre_c * pre_c) AS BIGINT) AS sxx,
                   CAST(sum(pre_c * post_c) AS BIGINT) AS sxy
            FROM per_user
        ),
        th AS (
            SELECT n, sx,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                        THEN 0
                        ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   END AS theta
            FROM mo
        )
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(post_c) AS DOUBLE) / count(*) AS mean_post_cents,
               CAST(sum(post_c) AS DOUBLE) / count(*)
                   - (SELECT theta FROM th)
                     * (CAST(sum(pre_c) AS DOUBLE) / count(*)
                        - CAST((SELECT sx FROM th) AS DOUBLE)
                          / (SELECT n FROM th)) AS mean_adjusted_cents
        FROM per_user
        GROUP BY arm
        """,
    category="behavioral",
    doc="CUPED variance reduction for A/B readouts (Deng et al. 2013): "
    "each user's post-period metric is adjusted by theta times their "
    "pre-period deviation from the pooled pre-mean, removing the "
    "between-user variance a raw diff-of-means carries — the standard "
    "trick that shrinks experiment confidence intervals ~40-60%.  Arms "
    "split by user-id parity, periods by a data-derived day-15 cut.  "
    "All moments (n, Sx, Sy, Sxx, Sxy) are EXACT int64 sums of cent "
    "values (the stats_regression recipe), so theta and the adjusted "
    "means are fixed sequences of IEEE ops on identical integers — "
    "bit-stable across engines and partitionings.  One user-keyed "
    "aggregate; the moment row broadcasts.",
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    cut = e.agg(F.date_add(F.min("d"), 15).alias("cut"))
    per_user = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).alias("arm"),
            F.sum(F.when(F.col("d") < F.col("cut"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("pre_c"),
            F.sum(F.when(F.col("d") >= F.col("cut"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("post_c"),
        )
    )
    mo = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre_c").cast("bigint").alias("sx"),
        F.sum("post_c").cast("bigint").alias("sy"),
        F.sum(F.col("pre_c") * F.col("pre_c")).cast("bigint").alias("sxx"),
        F.sum(F.col("pre_c") * F.col("post_c")).cast("bigint").alias("sxy"),
    )
    th = mo.select(
        "n",
        "sx",
        F.expr(
            "CASE WHEN cast(n as double) * cast(sxx as double)"
            "          - cast(sx as double) * cast(sx as double) = 0"
            " THEN cast(0 as double)"
            " ELSE (cast(n as double) * cast(sxy as double)"
            "       - cast(sx as double) * cast(sy as double))"
            "    / (cast(n as double) * cast(sxx as double)"
            "       - cast(sx as double) * cast(sx as double)) END"
        ).alias("theta"),
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("post_c").cast("bigint").alias("spost"),
            F.sum("pre_c").cast("bigint").alias("spre"),
        )
        .crossJoin(F.broadcast(th))
        .select(
            "arm",
            "n_users",
            (F.col("spost").cast("double") / F.col("n_users")).alias(
                "mean_post_cents"
            ),
            (
                F.col("spost").cast("double") / F.col("n_users")
                - F.col("theta")
                * (
                    F.col("spre").cast("double") / F.col("n_users")
                    - F.col("sx").cast("double") / F.col("n")
                )
            ).alias("mean_adjusted_cents"),
        )
    )


@register(
    "features_hashing_trick",
    oracle="""
        WITH feats AS (
            SELECT user_id, feat
            FROM (
                SELECT user_id,
                       unnest([
                           'et:' || event_type,
                           'k:' || CAST(CAST(json_extract_string(props, '$.k')
                                             AS BIGINT) // 10 AS VARCHAR)
                       ]) AS feat
                FROM events
                WHERE user_id % 17 = 0
            )
        )
        SELECT user_id,
               CAST(('0x' || substring(md5('fh-v1:' || feat), 1, 15))::BIGINT
                    % 16 AS BIGINT) AS bucket,
               count(*) AS n
        FROM feats
        GROUP BY user_id,
                 CAST(('0x' || substring(md5('fh-v1:' || feat), 1, 15))::BIGINT
                      % 16 AS BIGINT)
        """,
    category="behavioral",
    doc="The hashing trick for ML feature vectorization: categorical "
    "features (event type; props.k decile) are hashed into a fixed "
    "16-bucket space via the salted-md5 integer derivation (the same "
    "cross-engine hash as dp_noisy_counts), so the feature matrix has "
    "bounded width no matter how many distinct categories appear — the "
    "standard trick for training on unbounded vocabularies without a "
    "dictionary build.  The plan is scan → generate 2 features/row → "
    "one (user,bucket) hash aggregate; no dictionary join, no Python.  "
    "The user sample (user_id%17=0) bounds the demo output; at 100 TB "
    "the same plan runs unsampled — work is one shuffle of (user, "
    "bucket) pairs.  Counts are exact integers, so the oracle "
    "hash-compare is exact.",
)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    feat = F.explode(
        F.array(
            F.concat(F.lit("et:"), F.col("event_type")),
            F.concat(
                F.lit("k:"),
                (
                    F.get_json_object("props", "$.k").cast("bigint")
                    / F.lit(10)
                )
                .cast("bigint")
                .cast("string"),
            ),
        )
    ).alias("feat")
    bucket = (hash60(F.concat(F.lit("fh-v1:"), F.col("feat"))) % 16).alias(
        "bucket"
    )
    return (
        e.select("user_id", feat)
        .select("user_id", bucket)
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_ewma_daily_counts",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n
            FROM events GROUP BY 1
        ),
        sm AS (
            SELECT d2.day,
                   sum(CAST(d1.n AS DOUBLE)
                       / (1 << date_diff('day', d1.day, d2.day))) AS num,
                   sum(1.0 / (1 << date_diff('day', d1.day, d2.day))) AS den
            FROM daily d1
            JOIN daily d2
              ON d1.day <= d2.day
             AND d1.day >= d2.day - INTERVAL 12 DAY
            GROUP BY d2.day
        )
        SELECT sm.day, daily.n AS n_events, sm.num / sm.den AS ewma
        FROM sm JOIN daily ON daily.day = sm.day
        """,
    category="behavioral",
    doc="Exponentially-weighted moving average of daily event volume "
    "(half-life 1 day, 13-day support) — the trend-smoothing primitive "
    "behind alerting baselines and seasonality-adjusted dashboards.  "
    "Weights are 2^-j via integer shift + division, so every term, "
    "every partial sum, and the final ratio are EXACTLY representable "
    "doubles while daily counts stay below ~2^37 (~1.4e11/day: a term "
    "needs up to 37+12 fractional+integer bits and the 13-term sum can "
    "carry ~4 more, staying under the 53-bit significand): the sum is "
    "order-independent and the oracle hash-compare exact, where a "
    "generic float EWMA would drift by summation order.  Past that "
    "scale, accumulate in 2^-12 fixed-point int64 and divide once.  "
    "Plan: events collapse to day grain first (one fact shuffle), then "
    "the bounded 13x day-to-day expansion joins day-scale tables only "
    "— at 100 TB the smoothing cost is independent of event count.",
)
def events_ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    pairs = d1.join(
        d2,
        (F.col("d1.day") <= F.col("d2.day"))
        & (F.col("d1.day") >= F.date_sub(F.col("d2.day"), 12)),
    ).select(
        F.col("d2.day").alias("day"),
        F.col("d1.n").alias("n1"),
        F.datediff(F.col("d2.day"), F.col("d1.day")).alias("j"),
    )
    # 2^-j by integer shift + division — exact, no libm pow.
    sm = (
        pairs.withColumn("w", F.expr("1.0 / shiftleft(1, j)"))
        .groupBy("day")
        .agg(
            F.sum(F.col("n1").cast("double") * F.col("w")).alias("num"),
            F.sum("w").alias("den"),
        )
    )
    return sm.join(daily, "day").select(
        "day",
        F.col("n").alias("n_events"),
        (F.col("num") / F.col("den")).alias("ewma"),
    )


# Poisson(1) CDF thresholds against a uniform 60-bit hash:
# floor(P(X<=k) * 2^60) for k = 0..6, weight 7 beyond (P < 6e-6).
# Integer literals shared verbatim with the oracle, so the resample
# weights are bit-identical across engines — no libm exp() at runtime.
_POIS1_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
]


def _pois1_case(h: str) -> str:
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS1_T)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "events_bootstrap_ci",
    oracle=f"""
        WITH x AS (
            SELECT event_id,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
        ),
        w AS (
            SELECT b.b, x.v,
                   {_pois1_case("('0x' || substring(md5('bs:' || CAST(b.b AS VARCHAR) || ':' || CAST(x.event_id AS VARCHAR)), 1, 15))::BIGINT")} AS w
            FROM x, (SELECT unnest(generate_series(0, 31)) AS b) b
        ),
        means AS (
            SELECT b,
                   CAST(sum(v * w) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS m
            FROM w WHERE w > 0 GROUP BY b
        ),
        ranked AS (
            SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means
        ),
        pt AS (SELECT CAST(sum(v) AS DOUBLE) / count(*) AS mean_full,
                      count(*) AS n_rows
               FROM x)
        SELECT pt.n_rows,
               CAST(32 AS BIGINT) AS n_resamples,
               pt.mean_full,
               (SELECT m FROM ranked WHERE rn = 2)  AS ci_lo,
               (SELECT m FROM ranked WHERE rn = 31) AS ci_hi
        FROM pt
        """,
    category="behavioral",
    doc="POISSON BOOTSTRAP confidence interval for mean purchase value — "
    "the bootstrap that actually runs at 100 TB: instead of drawing B "
    "global resamples (impossible distributed — each needs a "
    "whole-corpus pass with shared state), every row derives its own "
    "Poisson(1) multiplicity per resample from a salted hash, so the "
    "32 resample means fall out of ONE scan + one 32-group aggregate.  "
    "The Poisson inverse-CDF thresholds are precomputed integer "
    "literals against the 60-bit hash (no runtime exp()), making every "
    "resample weight bit-identical across engines; sums are exact "
    "int64 micro-units, so the CI bounds hash-match exactly.  CI = "
    "2nd / 31st order statistics of the 32 resample means "
    "(~94% coverage).  The 32x row fan-out is scan-side and bounded — "
    "work scales linearly with B, never with resample passes.",
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    x = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "event_id",
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("v"),
        )
    )
    h = hash60(
        F.concat(
            F.lit("bs:"),
            F.col("b").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    w_expr = F.expr(_pois1_case("h"))
    means = (
        x.select("event_id", "v", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"))
        .withColumn("h", h)
        .withColumn("w", w_expr)
        .filter(F.col("w") > 0)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("v") * F.col("w")).cast("double")
                / F.sum("w").cast("bigint")
            ).alias("m")
        )
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(W.orderBy("m", "b"))  # 32 rows — safe
    )
    lo = ranked.filter(F.col("rn") == 2).select(F.col("m").alias("ci_lo"))
    hi = ranked.filter(F.col("rn") == 31).select(F.col("m").alias("ci_hi"))
    pt = x.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_full"),
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_rows",
            F.lit(32).cast("bigint").alias("n_resamples"),
            "mean_full",
            "ci_lo",
            "ci_hi",
        )
    )


@register(
    "events_markov_eval_holdout",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS prev,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        train AS (
            SELECT prev, nxt, count(*) AS c
            FROM seq WHERE nxt IS NOT NULL AND user_id % 5 <> 0
            GROUP BY prev, nxt
        ),
        model AS (
            SELECT prev, nxt AS predicted
            FROM (SELECT prev, nxt,
                         row_number() OVER (PARTITION BY prev
                                            ORDER BY c DESC, nxt) AS rn
                  FROM train)
            WHERE rn = 1
        ),
        test AS (
            SELECT prev, nxt FROM seq
            WHERE nxt IS NOT NULL AND user_id % 5 = 0
        )
        SELECT t.prev AS prev_type,
               m.predicted,
               count(*) AS n_test,
               CAST(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS accuracy
        FROM test t JOIN model m ON m.prev = t.prev
        GROUP BY t.prev, m.predicted
        """,
    category="behavioral",
    doc="Train/holdout evaluation of the first-order Markov next-event "
    "model — the eval half events_markov_transitions lacks: the model "
    "(per-state argmax of transition counts, deterministic tie-break) "
    "is FIT on 80% of users and SCORED on the held-out 20% by "
    "top-1 accuracy per state — the same deterministic-hash-split "
    "train/eval discipline as corpus_train_test_split, applied to "
    "model fitting.  Plan: one user-keyed window builds sequences, "
    "the model is a states-x-states aggregate (tiny — AQE broadcasts "
    "it to the test join), counts exact int64, accuracy one IEEE "
    "division.  In-engine model training joins kmeans (centroids), "
    "BPE (merges), and the Markov chain — fit and eval never leave "
    "the engine.",
)
def events_markov_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    seq = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    train = (
        seq.filter(F.col("nxt").isNotNull() & (F.col("user_id") % 5 != 0))
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rn = F.row_number().over(
        W.partitionBy("prev").orderBy(F.col("c").desc(), "nxt")
    )
    model = (
        train.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    test = seq.filter(F.col("nxt").isNotNull() & (F.col("user_id") % 5 == 0))
    hit = F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(model, "prev")
        .groupBy(F.col("prev").alias("prev_type"), "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("accuracy"),
        )
    )


@register(
    "funnel_windowed_conversion",
    oracle="""
        WITH s AS (
            SELECT user_id, min(ts) AS t_signup
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN s ON s.user_id = e.user_id
            WHERE e.event_type = 'click'
              AND e.ts > s.t_signup
              AND e.ts <= s.t_signup + INTERVAL 7 DAY
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND e.ts > c.t_click
              AND e.ts <= c.t_click + INTERVAL 7 DAY
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s) AS n_signup,
               (SELECT count(*) FROM c) AS n_click_7d,
               (SELECT count(*) FROM p) AS n_purchase_7d,
               CAST((SELECT count(*) FROM p) * 1000000
                    // (SELECT count(*) FROM s) AS BIGINT) AS conv_ppm
        """,
    category="behavioral",
    doc="Time-WINDOWED funnel: signup -> first click within 7 days -> "
    "first purchase within 7 days OF THAT CLICK — the bounded-window "
    "form product analytics actually reports (funnel_conversion is the "
    "unbounded lifetime form; the window changes the answer because a "
    "stage completed late no longer counts).  Each stage is one "
    "user-keyed aggregate joined forward, so all three stages reuse "
    "the same user_id shuffle key; the stage tables shrink "
    "monotonically and AQE broadcasts them into the next stage's "
    "probe.  Conversion emits in exact integer ppm.",
)
def funnel_windowed_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    ns = F.broadcast(s.agg(F.count(F.lit(1)).alias("n_signup")))
    nc = F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click_7d")))
    np_ = F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_7d")))
    return (
        ns.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_signup",
            "n_click_7d",
            "n_purchase_7d",
            F.expr("n_purchase_7d * 1000000 div n_signup")
            .cast("bigint")
            .alias("conv_ppm"),
        )
    )


@register(
    "timeseries_gapfill_interp",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS day_centi
            FROM events GROUP BY user_id, day
        ),
        spine AS (
            SELECT user_id,
                   unnest(generate_series(min(day), max(day),
                                          INTERVAL 1 DAY))::DATE AS day
            FROM daily GROUP BY user_id
        ),
        ctx AS (
            SELECT s.user_id, s.day, d.day_centi,
                   last_value(d.day_centi IGNORE NULLS)
                       OVER (PARTITION BY s.user_id ORDER BY s.day) AS pv,
                   last_value(CASE WHEN d.day_centi IS NOT NULL
                                   THEN s.day END IGNORE NULLS)
                       OVER (PARTITION BY s.user_id ORDER BY s.day) AS pd,
                   first_value(d.day_centi IGNORE NULLS)
                       OVER (PARTITION BY s.user_id ORDER BY s.day
                             ROWS BETWEEN CURRENT ROW
                                      AND UNBOUNDED FOLLOWING) AS nv,
                   first_value(CASE WHEN d.day_centi IS NOT NULL
                                    THEN s.day END IGNORE NULLS)
                       OVER (PARTITION BY s.user_id ORDER BY s.day
                             ROWS BETWEEN CURRENT ROW
                                      AND UNBOUNDED FOLLOWING) AS nd
            FROM spine s LEFT JOIN daily d
              ON d.user_id = s.user_id AND d.day = s.day
        ),
        interp AS (
            SELECT user_id, day, day_centi,
                   CASE WHEN day_centi IS NULL THEN
                       (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
                   END AS gap_centi
            FROM ctx
        )
        SELECT user_id,
               count(*) AS n_days,
               CAST(count(day_centi) AS BIGINT) AS n_observed,
               CAST(coalesce(sum(gap_centi), 0) AS BIGINT)
                   AS interp_centi_sum
        FROM interp
        GROUP BY user_id
        """,
    category="behavioral",
    doc="Time-series densification by LINEAR interpolation — the "
    "companion to timeseries_gapfill_locf's step-fill: per user, the "
    "complete daily spine, with each interior gap day filled by the "
    "time-weighted average of the surrounding observations.  The "
    "interpolant is computed as (prev*(next_day - day) + next*(day - "
    "prev_day)) div gap_days — every operand non-negative, so Spark's "
    "truncating div and DuckDB's flooring // agree and the fill is "
    "integer-exact (the naive prev + slope*offset form goes through a "
    "NEGATIVE numerator when the series falls, where the two engines' "
    "division semantics diverge).  Same scale shape as locf: one "
    "shuffle for the daily rollup, one user-keyed window; the "
    "prev/next context comes from two frames of the SAME window "
    "partition, not extra joins.",
)
def timeseries_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("day_centi"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    back = W.partitionBy("user_id").orderBy("day")
    fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_centi").isNotNull(), F.col("day"))
    ctx = (
        spine.join(daily, ["user_id", "day"], "left_outer")
        .withColumn("pv", F.last("day_centi", ignorenulls=True).over(back))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("day_centi", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    gap = F.when(
        F.col("day_centi").isNull(),
        F.expr(
            "(pv * datediff(nd, day) + nv * datediff(day, pd))"
            " div datediff(nd, pd)"
        ),
    )
    return (
        ctx.withColumn("gap_centi", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count("day_centi").cast("bigint").alias("n_observed"),
            F.coalesce(F.sum("gap_centi"), F.lit(0))
            .cast("bigint")
            .alias("interp_centi_sum"),
        )
    )


@register(
    "events_pattern_match",
    oracle="""
        WITH journeys AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS journey
            FROM events GROUP BY user_id, day
        ),
        matched AS (
            SELECT user_id, day,
                   len(regexp_extract_all(journey, 'v[ce]*p'))
                       AS n_conversions
            FROM journeys
        )
        SELECT CAST(n_conversions AS BIGINT) AS n_conversions,
               CAST(count(*) AS BIGINT) AS n_user_days,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM matched GROUP BY n_conversions
        """,
    category="behavioral",
    doc="MATCH_RECOGNIZE-style row-pattern matching — the SQL:2016 "
    "operator Spark lacks, composed from primitives it has: per "
    "(user, day) the event stream collapses to a symbol string in "
    "strict (ts, event_id) order (every event type starts with a "
    "distinct letter, so substr(type,1,1) is the alphabet), and the "
    "pattern VIEW (CLICK|ERROR)* PURCHASE runs as the regex 'v[ce]*p' "
    "with non-overlapping leftmost-greedy semantics — exactly "
    "MATCH_RECOGNIZE ... AFTER MATCH SKIP PAST LAST ROW.  Java regex "
    "(Spark regexp_count) and RE2 (DuckDB regexp_extract_all) agree on "
    "this lookaround-free subset.  Scale shape: one shuffle groups each "
    "user-day's events onto one partition (the per-group string is "
    "bounded by a user's single-day event count, the same invariant "
    "every sessionization query here rests on), the regex runs "
    "JVM-side per group, and the output is the bounded "
    "conversions-per-user-day histogram.",
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    journeys = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("sym"),
                        )
                    )
                ),
                lambda s: s["sym"],
            ),
            "",
        ).alias("journey")
    )
    matched = journeys.select(
        "user_id", F.regexp_count("journey", F.lit("v[ce]*p")).alias("n_conversions")
    )
    return matched.groupBy(
        F.col("n_conversions").cast("bigint").alias("n_conversions")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_days"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


@register(
    "events_psi_drift",
    oracle="""
        WITH e AS (
            SELECT event_type,
                   CAST(floor(
                       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       / 7.0) AS INTEGER) % 2 AS wk,
                   least(greatest(CAST(floor(value / 33) AS INTEGER), 0), 9)
                       AS bin
            FROM events
        ),
        agg AS (
            SELECT event_type, bin,
                   sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS n1
            FROM e GROUP BY event_type, bin
        ),
        tt AS (
            SELECT event_type, sum(n0) AS t0, sum(n1) AS t1
            FROM agg GROUP BY event_type
        )
        SELECT a.event_type,
               sum(((a.n0 + 1.0) / (tt.t0 + 10.0)
                        - (a.n1 + 1.0) / (tt.t1 + 10.0))
                   * ln(((a.n0 + 1.0) / (tt.t0 + 10.0))
                        / ((a.n1 + 1.0) / (tt.t1 + 10.0)))) AS psi
        FROM agg a JOIN tt ON a.event_type = tt.event_type
        GROUP BY a.event_type
        """,
    category="behavioral",
    doc="Population Stability Index drift detection per event type: "
    "bucket the metric into 10 fixed-width bins, compare the "
    "even-week vs odd-week distributions with add-1 smoothing, "
    "PSI = sum((p-q)*ln(p/q)) — the standard production-ML input-"
    "drift monitor (PSI > 0.2 = retrain alarm), expressible as two "
    "fixed-cardinality aggregates.  Scale shape: one events scan into "
    "a (type, bin)-grouped conditional aggregate (<= types x 10 rows), "
    "totals re-aggregated from THAT table (never a second scan), and "
    "the bins are data-independent constants so no quantile pre-pass "
    "or global sort exists anywhere — at 100 TB the corpus shuffles "
    "only per-bin partial counts.",
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
            ).cast("int")
            % 2
        ).alias("wk"),
        F.least(
            F.greatest(F.floor(F.col("value") / 33).cast("int"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
    )
    agg = e.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("wk") == 1, 1).otherwise(0)).alias("n1"),
    )
    tt = agg.groupBy("event_type").agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    p = (F.col("n0") + 1.0) / (F.col("t0") + 10.0)
    q = (F.col("n1") + 1.0) / (F.col("t1") + 10.0)
    return (
        agg.join(tt, "event_type")
        .groupBy("event_type")
        .agg(F.sum((p - q) * F.log(p / q)).alias("psi"))
    )


@register(
    "events_longest_streak",
    oracle="""
        WITH d AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       AS day
            FROM events
        ),
        r AS (
            SELECT user_id, day,
                   row_number() OVER (PARTITION BY user_id ORDER BY day)
                       AS rn
            FROM d
        ),
        s AS (
            SELECT user_id, day - rn AS anchor, count(*) AS streak
            FROM r GROUP BY user_id, day - rn
        )
        SELECT user_id, CAST(max(streak) AS BIGINT) AS longest_streak
        FROM s GROUP BY user_id
        """,
    category="behavioral",
    doc="Longest consecutive-day activity streak per user — the "
    "canonical gaps-and-islands idiom: distinct active days, then "
    "day_number - row_number is constant exactly within a "
    "consecutive run (the island anchor), so a plain GROUP BY counts "
    "each streak and a max picks the longest.  Days are integerized "
    "against a fixed epoch so the anchor arithmetic is pure BIGINT — "
    "no date-interval dialect divergence between engines.  Scale "
    "shape: everything partitions by user_id — the window, both "
    "aggregates, one shuffle key end to end; no global sort, and "
    "per-user state is bounded by the calendar, not the event "
    "volume.",
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        )
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    return (
        d.withColumn("anchor", F.col("day") - rn)
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("streak"))
        .groupBy("user_id")
        .agg(F.max("streak").alias("longest_streak"))
    )


@register(
    "features_target_encoding_loo",
    oracle="""
        WITH s AS (
            SELECT o_orderpriority,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS tot_cents,
                   count(*) AS n
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o.o_orderkey,
               (s.tot_cents
                - CAST(round(o.o_totalprice * 100) AS BIGINT))
               / (s.n - 1) / 100.0 AS loo_price
        FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority
        WHERE s.n > 1
        """,
    category="behavioral",
    doc="Leave-one-out target encoding — the ML feature-prep staple "
    "for categorical columns: each row gets the mean target of its "
    "category EXCLUDING itself, (sum - y) / (n - 1), which prevents "
    "the self-leakage that plain mean encoding injects into training "
    "data.  Scale shape: per-category (sum, count) is a bounded "
    "aggregate over the handful of priority levels, broadcast back "
    "onto the fact scan, and the encode is a map-side projection — "
    "NOT a per-category window (a window buffers the whole category "
    "partition; one hot category at 100 TB would pin a single task). "
    "The n > 1 guard matches the division's domain in both engines. "
    "The per-category SUM is computed over exact integer cents "
    "(round(price*100) as bigint) so partial-aggregation order — "
    "which differs between Spark and the oracle — cannot perturb "
    "the float sum near a rounding boundary; the single float "
    "division happens once, at the very end, from exact integers.",
)
def features_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").withColumn(
        "price_cents",
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
    )
    s = o.groupBy("o_orderpriority").agg(
        F.sum("price_cents").alias("tot_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        o.join(F.broadcast(s), "o_orderpriority")
        .filter(F.col("n") > 1)
        .select(
            "o_orderkey",
            (
                (F.col("tot_cents") - F.col("price_cents"))
                / (F.col("n") - 1)
                / 100.0
            ).alias("loo_price"),
        )
    )


# --- shared two-sample scaffolding (KS + Mann-Whitney) -----------------
# Per-distinct-value counts of the click-vs-view samples, bucketed for
# the two-phase global prefix sum both tests need.  One definition so
# the bucket clamp / value filter cannot drift between the two queries.


def _clickview_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, ca, cb, bkt): per-distinct-value counts of the click (a) and
    view (b) samples, with the 0-999 clamped integer value bucket."""
    pts = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(F.col("value").alias("v"), "event_type")
    )
    cnt = pts.groupBy("v").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "ca"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "cb"
        ),
    )
    bkt = F.least(
        F.greatest(F.floor("v").cast("bigint"), F.lit(0)), F.lit(999)
    )
    return cnt.withColumn("bkt", bkt)


def _bucket_offsets(d: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Exclusive per-bucket prefix offsets for each {src: out} column —
    the phase-1 half of the two-phase global prefix sum: the window
    runs over the BOUNDED bucket table only, never the raw samples."""
    from pyspark.sql import Window as W

    excl = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    off = d.groupBy("bkt").agg(
        *[F.sum(src).alias(f"b_{src}") for src in cols]
    )
    for src, out in cols.items():
        off = off.withColumn(
            out, F.coalesce(F.sum(f"b_{src}").over(excl), F.lit(0))
        )
    return off


@register(
    "stats_ks_two_sample",
    oracle="""
        WITH pts AS (
            SELECT value AS v, event_type FROM events
            WHERE event_type IN ('click', 'view')
        ),
        cnt AS (
            SELECT v,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS ca,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS cb
            FROM pts GROUP BY v
        ),
        cum AS (
            SELECT v,
                   sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS cuma,
                   sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS cumb
            FROM cnt
        ),
        tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt)
        SELECT max(abs(cuma / CAST(na AS DOUBLE)
                       - cumb / CAST(nb AS DOUBLE))) AS ks_d,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM cum, tot
        GROUP BY na, nb
        """,
    category="behavioral",
    doc="Exact two-sample Kolmogorov-Smirnov statistic between the "
    "click and view metric distributions: D = max over observed "
    "values of |ECDF_a - ECDF_b| — the distribution-drift test "
    "behind data-quality gates (vs events_psi_drift's binned "
    "approximation, this is the EXACT statistic).  The ECDFs need a "
    "global ordered prefix sum — the classic single-partition trap — "
    "so this reuses corpus_shard_bybytes' two-phase decomposition: "
    "per-value-bucket subtotals (bounded: <=1000 clamped integer "
    "buckets), exclusive offsets windowed over that tiny bucket "
    "table only, intra-bucket running sums partitioned by bucket, "
    "offsets broadcast back.  The raw samples never pass through one "
    "partition.  D is a ratio of exact integer counts, so both "
    "engines compute bit-identical doubles.",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = _clickview_value_counts(spark, sf_dir)
    offsets = _bucket_offsets(d, {"ca": "offa", "cb": "offb"})
    tot = offsets.agg(
        F.sum("b_ca").alias("na"), F.sum("b_cb").alias("nb")
    )
    intra = W.partitionBy("bkt").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = (
        d.join(F.broadcast(offsets.select("bkt", "offa", "offb")), "bkt")
        .withColumn("cuma", F.col("offa") + F.sum("ca").over(intra))
        .withColumn("cumb", F.col("offb") + F.sum("cb").over(intra))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma") / F.col("na").cast("double")
                    - F.col("cumb") / F.col("nb").cast("double")
                )
            ).alias("ks_d")
        )
        .select(
            "ks_d",
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
        )
    )


@register(
    "stats_mannwhitney_u",
    oracle="""
        WITH pts AS (
            SELECT value AS v, event_type FROM events
            WHERE event_type IN ('click', 'view')
        ),
        cnt AS (
            SELECT v,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS ca,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS cb
            FROM pts GROUP BY v
        ),
        rk AS (
            SELECT v, ca, cb,
                   coalesce(sum(ca + cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS c_lt
            FROM cnt
        ),
        tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt)
        SELECT sum(ca * (c_lt + (ca + cb + 1) / 2.0))
                   - na * (na + 1) / 2.0 AS u_a,
               CAST(na AS BIGINT) * CAST(nb AS BIGINT)
                   - (sum(ca * (c_lt + (ca + cb + 1) / 2.0))
                      - na * (na + 1) / 2.0) AS u_b,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM rk, tot
        GROUP BY na, nb
        """,
    category="behavioral",
    doc="Exact Mann-Whitney U (rank-sum) statistic between the click "
    "and view metric samples, ties handled by midrank averaging — "
    "completing the drift-test trio next to events_psi_drift (binned) "
    "and stats_ks_two_sample (ECDF): the rank test is what production "
    "monitors use when the metric is heavy-tailed and means lie.  The "
    "average rank of a value is (count strictly below) + (tie count + "
    "1)/2, so the whole statistic needs only the per-distinct-value "
    "count table and a global EXCLUSIVE prefix sum — computed with "
    "the same two-phase bucket decomposition as stats_ks_two_sample "
    "(bounded bucket table windowed, intra-bucket running sums, "
    "offsets broadcast); raw samples never cross one partition.  All "
    "terms are exact integers and halves, bit-identical in both "
    "engines.",
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = _clickview_value_counts(spark, sf_dir).withColumn(
        "c", F.col("ca") + F.col("cb")
    )
    offsets = _bucket_offsets(d, {"c": "off"}).select("bkt", "off")
    tot = d.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    excl_v = W.partitionBy("bkt").orderBy("v").rowsBetween(
        W.unboundedPreceding, -1
    )
    rk = (
        d.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "c_lt",
            F.col("off") + F.coalesce(F.sum("c").over(excl_v), F.lit(0)),
        )
    )
    r_a = F.sum(F.col("ca") * (F.col("c_lt") + (F.col("c") + 1) / 2.0))
    return (
        rk.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg((r_a - F.col("na") * (F.col("na") + 1) / 2.0).alias("u_a"))
        .select(
            "u_a",
            (F.col("na").cast("bigint") * F.col("nb").cast("bigint")
             - F.col("u_a")).alias("u_b"),
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
        )
    )


@register(
    "features_woe_iv",
    oracle="""
        WITH lab AS (
            SELECT o_orderpriority AS cat,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
            FROM orders
        ),
        per AS (
            SELECT cat,
                   CAST(sum(good) AS BIGINT) AS n_good,
                   CAST(sum(1 - good) AS BIGINT) AS n_bad
            FROM lab GROUP BY cat
        ),
        tot AS (
            SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM per
        )
        SELECT p.cat, p.n_good, p.n_bad,
               ln((CAST(p.n_good AS DOUBLE) / t.tg)
                  / (CAST(p.n_bad AS DOUBLE) / t.tb)) AS woe,
               ((CAST(p.n_good AS DOUBLE) / t.tg)
                - (CAST(p.n_bad AS DOUBLE) / t.tb))
               * ln((CAST(p.n_good AS DOUBLE) / t.tg)
                    / (CAST(p.n_bad AS DOUBLE) / t.tb)) AS iv_term
        FROM per p CROSS JOIN tot t
        """,
    category="behavioral",
    doc="Weight-of-Evidence / Information-Value encoding — the credit-"
    "scoring and feature-selection staple for categorical predictors: "
    "per category, WOE = ln((good_i/total_good)/(bad_i/total_bad)); "
    "the per-category IV terms sum to the feature's IV (>0.3 = strong "
    "predictor).  Exactness discipline: all counts are exact integer "
    "aggregates (order-independent); the WOE ln() is a SINGLE scalar "
    "expression over those integers, evaluated once per category in "
    "both engines — no float accumulation anywhere (the "
    "events_psi_drift precedent).  Scale shape: one orders scan into a "
    "bounded per-category conditional aggregate, totals re-aggregated "
    "from THAT table, broadcast 1-row cross join back — shuffle bytes "
    "are O(categories), never O(rows).",
)
def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("good"),
    )
    per = lab.groupBy("cat").agg(
        F.sum("good").cast("bigint").alias("n_good"),
        F.sum(1 - F.col("good")).cast("bigint").alias("n_bad"),
    )
    tot = per.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    woe = F.log(
        (F.col("n_good").cast("double") / F.col("tg"))
        / (F.col("n_bad").cast("double") / F.col("tb"))
    )
    share_gap = (F.col("n_good").cast("double") / F.col("tg")) - (
        F.col("n_bad").cast("double") / F.col("tb")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cat",
        "n_good",
        "n_bad",
        woe.alias("woe"),
        (share_gap * woe).alias("iv_term"),
    )


@register(
    "market_basket_rules",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item
            FROM lineitem
        ),
        n_baskets AS (SELECT count(DISTINCT basket) AS nb FROM items),
        item_n AS (
            SELECT item, CAST(count(*) AS BIGINT) AS n FROM items
            GROUP BY item
        ),
        pairs AS (
            SELECT a.item AS ante, b.item AS cons,
                   CAST(count(*) AS BIGINT) AS co
            FROM items a JOIN items b
              ON a.basket = b.basket AND a.item < b.item
            GROUP BY a.item, b.item
        )
        SELECT p.ante, p.cons, p.co,
               CAST(p.co AS DOUBLE) / ia.n AS confidence,
               CAST(p.co AS DOUBLE) * t.nb / (ia.n * ib.n) AS lift
        FROM pairs p
        JOIN item_n ia ON p.ante = ia.item
        JOIN item_n ib ON p.cons = ib.item
        CROSS JOIN n_baskets t
        WHERE p.co >= 20
        """,
    category="behavioral",
    doc="Association rules (support / confidence / lift) over order "
    "baskets — the classic co-occurrence miner behind 'frequently "
    "bought together'.  Items are bucketed part keys (bounded item "
    "vocabulary, the realistic catalog-category granularity).  Scale "
    "shape: the basket self-join runs AFTER per-basket item dedup "
    "(DISTINCT prunes the explode), pairs are generated only within a "
    "basket and only in canonical a<b order (halves the pair space), "
    "and the min-support filter (co >= 20) keeps the rule table "
    "bounded; confidence and lift are single scalar expressions over "
    "exact integer counts — no float accumulation.  The item-count "
    "joins are against a vocabulary-sized table, broadcast-eligible "
    "at any corpus size.",
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("basket"),
            (F.col("l_partkey") % 50).alias("item"),
        )
        .distinct()
    )
    nb = items.agg(F.count_distinct("basket").alias("nb"))
    item_n = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("ante"), F.col("b.item").alias("cons")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= 20)
    )
    ia = F.broadcast(item_n.select(F.col("item").alias("ante"), F.col("n").alias("na")))
    ib = F.broadcast(item_n.select(F.col("item").alias("cons"), F.col("n").alias("nb_item")))
    return (
        pairs.join(ia, "ante")
        .join(ib, "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "co",
            (F.col("co").cast("double") / F.col("na")).alias("confidence"),
            (
                F.col("co").cast("double")
                * F.col("nb")
                / (F.col("na") * F.col("nb_item"))
            ).alias("lift"),
        )
    )


@register(
    "events_interarrival_burstiness",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   epoch_us(ts) // 1000000
                   - lag(epoch_us(ts) // 1000000)
                       OVER (PARTITION BY user_id, event_type
                             ORDER BY epoch_us(ts), event_id) AS gap_s
            FROM events
        ),
        g AS (SELECT event_type, gap_s FROM seq WHERE gap_s IS NOT NULL)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap_s) AS BIGINT) AS sum_s,
               CAST(sum(gap_s * gap_s) AS BIGINT) AS sumsq_s,
               (sqrt((CAST(sum(gap_s * gap_s) AS DOUBLE)
                      - CAST(sum(gap_s) AS DOUBLE) * sum(gap_s) / count(*))
                     / count(*))
                - CAST(sum(gap_s) AS DOUBLE) / count(*))
               / (sqrt((CAST(sum(gap_s * gap_s) AS DOUBLE)
                        - CAST(sum(gap_s) AS DOUBLE) * sum(gap_s)
                          / count(*))
                       / count(*))
                  + CAST(sum(gap_s) AS DOUBLE) / count(*)) AS burstiness
        FROM g GROUP BY event_type
        """,
    category="behavioral",
    doc="Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of per-"
    "user inter-arrival gaps, per event type: B -> -1 is a periodic "
    "process, 0 Poisson, +1 maximally bursty — the standard temporal-"
    "pattern diagnostic for traffic and crawl scheduling.  Exactness: "
    "gaps are whole seconds (ints), n / sum / sum-of-squares are exact "
    "BIGINT aggregates, and sigma/mu/B is ONE scalar expression over "
    "them — both engines compute identical IEEE arithmetic, no float "
    "accumulation.  Scale shape: one shuffle on (user_id, event_type) "
    "for the lag window, then a bounded per-type aggregate; the exact "
    "integer moments also make B re-aggregatable across shards.",
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    t_s = (F.unix_micros("ts") / F.lit(1_000_000)).cast("bigint")
    seq = t(spark, sf_dir, "events").select(
        "event_type", (t_s - F.lag(t_s).over(w)).alias("gap_s")
    )
    g = seq.filter(F.col("gap_s").isNotNull())
    n = F.count(F.lit(1))
    s = F.sum("gap_s")
    ss = F.sum(F.col("gap_s") * F.col("gap_s"))
    sigma = F.sqrt(
        (ss.cast("double") - s.cast("double") * s / n) / n
    )
    mu = s.cast("double") / n
    return g.groupBy("event_type").agg(
        n.cast("bigint").alias("n"),
        s.cast("bigint").alias("sum_s"),
        ss.cast("bigint").alias("sumsq_s"),
        ((sigma - mu) / (sigma + mu)).alias("burstiness"),
    )


@register(
    "survival_at_risk_table",
    oracle="""
        WITH life AS (
            SELECT user_id,
                   CAST(floor(date_diff('day',
                                        min(CAST(ts AS DATE)),
                                        max(CAST(ts AS DATE))) / 7.0)
                        AS BIGINT) AS weeks
            FROM events GROUP BY user_id
        ),
        per AS (
            SELECT weeks, CAST(count(*) AS BIGINT) AS churned
            FROM life GROUP BY weeks
        )
        SELECT weeks, churned,
               CAST(sum(churned) OVER (ORDER BY weeks DESC) AS BIGINT)
                   AS at_risk
        FROM per
        """,
    category="behavioral",
    doc="Kaplan-Meier-style at-risk table over user lifetimes (first to "
    "last observed event, bucketed to weeks): per tenure week, how "
    "many users' observation ended there (churned) and how many "
    "survived at least that long (at_risk) — the exact integer inputs "
    "every survival estimator consumes (the KM product itself is a "
    "chained float product, so the engine emits the counts and leaves "
    "the 10-row product to the caller — the same counts-not-floats "
    "discipline as the sketch queries).  Scale shape: one shuffle on "
    "user_id for the lifespan aggregate, a bounded per-week count, "
    "and the reverse cumulative sum runs over the TENURE-WEEK table "
    "(handful of rows), never the raw events.",
)
def survival_at_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    life = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.floor(
                F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
                / 7
            )
            .cast("bigint")
            .alias("weeks")
        )
    )
    per = life.groupBy("weeks").agg(
        F.count(F.lit(1)).cast("bigint").alias("churned")
    )
    wrev = W.orderBy(F.col("weeks").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    return per.select(
        "weeks",
        "churned",
        F.sum("churned").over(wrev).cast("bigint").alias("at_risk"),
    )
