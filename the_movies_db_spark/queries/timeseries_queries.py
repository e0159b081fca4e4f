"""Time-series surface over the ``events`` table: dense-grid gap
filling with last-observation-carried-forward, marketing-style
last-touch attribution, and hourly OHLC downsampling.

All are hypertable/rollup-shaped operations (the reference's event
analytics delegate these to SQL windows; here they are native Spark
window + sequence plans). All money math is integer cents so the
value-hash is engine-exact; only the final display division produces
a double (one exactly-representable op on both engines).

Scale notes (100 TB): the dense grid is |types| x |buckets| — tiny
relative to the fact table and generated without a shuffle from a
1-row min/max aggregate; the observed rollup is one hash aggregation
on (type, bucket); LOCF is one window pass partitioned by type (at
extreme bucket counts, partition the window by (type, day) and seed
each day with the prior day's closing value). Attribution is one
window pass partitioned by user — no self-join, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from the_movies_db_spark.io import load_table
from the_movies_db_spark.operators import bitmap as B
from the_movies_db_spark.queries import register

#: 15-minute buckets, anchored at the unix epoch in NTZ space —
#: identical arithmetic in both engines (no time_bucket origin quirks).
_BUCKET_SECONDS = 900

def _spark_bucket(seconds: int) -> str:
    return (
        "timestampadd(SECOND, CAST((timestampdiff(SECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV {s}) * {s} AS BIGINT),"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    ).format(s=seconds)


def _duck_bucket(seconds: int) -> str:
    return (
        "TIMESTAMP '1970-01-01 00:00:00' + ((datediff('second',"
        " TIMESTAMP '1970-01-01 00:00:00', ts) // {s}) * {s}) * INTERVAL 1 SECOND"
    ).format(s=seconds)


_SPARK_BUCKET = _spark_bucket(_BUCKET_SECONDS)
_DUCK_BUCKET = _duck_bucket(_BUCKET_SECONDS)


@register(
    "events_gapfill_locf",
    f"""
    WITH obs AS (
      SELECT event_type,
             {_DUCK_BUCKET} AS bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM obs),
    grid AS (
      SELECT t.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (
        SELECT unnest(generate_series(lo, hi, INTERVAL {_BUCKET_SECONDS} SECOND)) AS bucket
        FROM bounds
      ) g
    ),
    joined AS (
      SELECT g.event_type, g.bucket, o.n_events, o.cents
      FROM grid g LEFT JOIN obs o
        ON g.event_type = o.event_type AND g.bucket = o.bucket
    )
    SELECT event_type, bucket,
           coalesce(n_events, 0) AS n_events,
           CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
           last_value(cents IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / 100.0 AS locf_value
    FROM joined
    """,
    doc=(
        "Dense 15-minute grid per event type (sequence from a 1-row "
        "min/max aggregate, cross-joined with the type dimension), left "
        "join of the observed rollup, then last-observation-carried-"
        "forward via an ignore-nulls window — the hypertable gap-fill "
        "primitive. Integer-cents arithmetic end to end."
    ),
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    obs = (
        e.select("event_type", F.expr(_SPARK_BUCKET).alias("bucket"), cents.alias("c"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("c").alias("cents"))
    )
    bounds = obs.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    buckets = bounds.select(
        F.explode(
            F.expr(f"sequence(lo, hi, INTERVAL {_BUCKET_SECONDS} SECOND)")
        ).alias("bucket")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(buckets))
    joined = grid.join(obs, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
        (F.last("cents", ignorenulls=True).over(w) / F.lit(100.0)).alias("locf_value"),
    )


@register(
    "events_attribution",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS channel
      FROM events
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc=(
        "Last-touch attribution: each purchase is credited to the most "
        "recent preceding non-purchase event of the same user (ignore-"
        "nulls window carry — the as-of join expressed without a join), "
        "purchases with no prior touch fall to 'direct'. Revenue in "
        "integer cents, divided once for display."
    ),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.withColumn("channel", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.sum(cents) / F.lit(100.0)).alias("revenue"),
        )
    )

#: OHLC buckets are hourly; open/close need a total order inside the
#: bucket — (ts, event_id) encoded as one BIGINT sort key so BOTH
#: engines run a plain hash aggregate (arg_min/min_by on a scalar;
#: struct-valued min would force a SortAggregate in Spark and DuckDB's
#: arg_min rejects struct keys). offset_us < 3.6e9, event_id < 1e9 →
#: key < 3.6e18 < int64 max.
_OHLC_SECONDS = 3600

_SPARK_OHLC_KEY = (
    "timestampdiff(MICROSECOND, bucket, ts) * 1000000000L + event_id"
)
_DUCK_OHLC_KEY = (
    "datediff('microsecond', bucket, ts) * 1000000000 + event_id"
)


@register(
    "events_ohlc",
    f"""
    WITH c AS (
      SELECT event_type, {_duck_bucket(_OHLC_SECONDS)} AS bucket,
             ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, bucket,
           arg_min(cents, {_DUCK_OHLC_KEY}) / 100.0 AS open,
           max(cents) / 100.0 AS high,
           min(cents) / 100.0 AS low,
           arg_max(cents, {_DUCK_OHLC_KEY}) / 100.0 AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM c
    GROUP BY 1, 2
    """,
    doc=(
        "Hourly OHLC candlesticks per event type — the downsampling "
        "rollup of a hypertable. One hash aggregation with partial "
        "(map-side) combine: open/close are arg_min/arg_max over a "
        "bucket-relative (ts, event_id) BIGINT sort key, high/low/"
        "volume are plain min/max/sum in integer cents."
    ),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.expr(_SPARK_OHLC_KEY)
    return (
        e.select(
            "event_type",
            F.expr(_spark_bucket(_OHLC_SECONDS)).alias("bucket"),
            "ts",
            "event_id",
            cents.alias("cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            (F.min_by("cents", key) / F.lit(100.0)).alias("open"),
            (F.max("cents") / F.lit(100.0)).alias("high"),
            (F.min("cents") / F.lit(100.0)).alias("low"),
            (F.max_by("cents", key) / F.lit(100.0)).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("volume_cents"),
        )
    )

#: Linear interpolation runs on the INTEGER bucket index (epoch-seconds
#: DIV 900) — pure int64 window + arithmetic; the timestamp is
#: reconstructed only for display. The series is the per-bucket average
#: in exact millicents (sum*1000 DIV n). Interpolation
#: ``(prev*(next-i) + next*(i-prev)) DIV span`` is non-negative here
#: (event values >= 0), so DuckDB's floor-`//` and Spark's
#: truncating-`DIV` agree; a signed series would need an explicit
#: floor-division form on the Spark side.


@register(
    "events_interpolate",
    f"""
    WITH obs AS (
      SELECT event_type,
             datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
               // {_BUCKET_SECONDS} AS idx,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) * 1000
                  // count(*) AS BIGINT) AS avg_mc
      FROM events
      GROUP BY 1, 2
    ),
    bounds AS (SELECT min(idx) AS lo, max(idx) AS hi FROM obs),
    grid AS (
      SELECT t.event_type, g.idx
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS idx FROM bounds) g
    ),
    joined AS (
      SELECT g.event_type, g.idx, o.n_events, o.avg_mc
      FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.idx = o.idx
    ),
    ctx AS (
      SELECT event_type, idx, n_events, avg_mc,
             last_value(avg_mc IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN avg_mc IS NOT NULL THEN idx END IGNORE NULLS)
               OVER w_prev AS prev_i,
             first_value(avg_mc IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN avg_mc IS NOT NULL THEN idx END IGNORE NULLS)
               OVER w_next AS next_i
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY idx
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           TIMESTAMP '1970-01-01 00:00:00'
             + (idx * {_BUCKET_SECONDS}) * INTERVAL 1 SECOND AS bucket,
           coalesce(n_events, 0) AS n_events,
           CASE
             WHEN avg_mc IS NOT NULL THEN avg_mc
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               CAST((prev_v * (next_i - idx) + next_v * (idx - prev_i))
                    // (next_i - prev_i) AS BIGINT)
           END AS avg_millicents,
           CASE
             WHEN avg_mc IS NOT NULL THEN 'observed'
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN 'interpolated'
             ELSE 'edge'
           END AS source
    FROM ctx
    """,
    doc=(
        "Dense-grid linear interpolation (the hypertable `interpolate` "
        "primitive, complement of LOCF): per-type 15-min buckets on an "
        "integer index, per-bucket average held as exact millicents, "
        "gaps filled by integer-rational interpolation between the "
        "bracketing observations (two ignore-nulls window passes over "
        "the SAME sort order — one Sort, no self-join); rows outside "
        "the observed span are labeled 'edge'."
    ),
)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    idx = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        f" DIV {_BUCKET_SECONDS}"
    )
    obs = (
        e.select("event_type", idx.alias("idx"), cents.alias("c"))
        .groupBy("event_type", "idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(sum(c) * 1000 DIV count(*) AS BIGINT)").alias("avg_mc"),
        )
    )
    bounds = obs.agg(F.min("idx").alias("lo"), F.max("idx").alias("hi"))
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds.select(F.explode(F.expr("sequence(lo, hi)")).alias("idx"))))
    )
    joined = grid.join(obs, ["event_type", "idx"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_idx = F.when(F.col("avg_mc").isNotNull(), F.col("idx"))
    ctx = joined.select(
        "event_type",
        "idx",
        "n_events",
        "avg_mc",
        F.last("avg_mc", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_idx, ignorenulls=True).over(w_prev).alias("prev_i"),
        F.first("avg_mc", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_idx, ignorenulls=True).over(w_next).alias("next_i"),
    )
    interp = F.expr(
        "CAST((prev_v * (next_i - idx) + next_v * (idx - prev_i))"
        " DIV (next_i - prev_i) AS BIGINT)"
    )
    return ctx.select(
        "event_type",
        F.expr(
            f"timestampadd(SECOND, CAST(idx * {_BUCKET_SECONDS} AS BIGINT),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("bucket"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("avg_mc").isNotNull(), F.col("avg_mc"))
        .when(F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), interp)
        .alias("avg_millicents"),
        F.when(F.col("avg_mc").isNotNull(), F.lit("observed"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.lit("interpolated"),
        )
        .otherwise(F.lit("edge"))
        .alias("source"),
    )


# -------------------------------------------------- transition matrix


@register(
    "events_transitions",
    """
    WITH seq AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(n * 1000000 // (CAST(sum(n) OVER (PARTITION BY prev_type)
                                     AS BIGINT)) AS BIGINT) AS prob_micro
    FROM pairs
    """,
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: lag() within user gives (prev, next) pairs, one hash "
        "aggregation counts them, and the row-normalized probability is "
        "exact integer micros (BIGINT floor division — no float ratio in "
        "the hash). The behavioral-analytics primitive behind funnel "
        "discovery and next-event prediction features."
    ),
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes (100 TB): one shuffle on user_id for the lag window
    (per-user state is a single previous row), one aggregation to the
    |types|^2-bounded matrix. The row total comes from a window over the
    already-tiny matrix, not a join back to the pair stream."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("prev_type")).cast("bigint")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.expr("n * 1000000").cast("bigint").alias("__num"),
        total.alias("__tot"),
    ).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("__num DIV __tot").cast("bigint").alias("prob_micro"),
    )


@register(
    "events_autocorr",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY h) AS y
      FROM hourly
    ),
    parts AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(x) AS BIGINT)     AS sx,
             CAST(sum(y) AS BIGINT)     AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                  sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS autocorr_lag1
    FROM parts
    """,
    doc=(
        "Lag-1 autocorrelation of hourly event counts per type — the "
        "seasonality/burstiness diagnostic of a time-series pipeline. "
        "Every covariance part (n, sums, cross-sums) is an exact BIGINT "
        "(integer counts, order-free summation); floats appear only in "
        "the final Pearson ratio, computed by the identical double-op "
        "sequence in both engines and rounded. One shuffle to the "
        "hourly grain, one window lag, one hash aggregate."
    ),
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.withColumn("y", F.lag("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    parts = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
    den = F.sqrt(F.expr("CAST(n * sxx - sx * sx AS DOUBLE)")) * F.sqrt(
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)")
    )
    return parts.select(
        "event_type", "n", F.round(num / den, 6).alias("autocorr_lag1")
    )


@register(
    "events_cusum_changepoint",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, h, x,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY h
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT)                                        AS cx,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
                  AS BIGINT)                                        AS t,
             CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)  AS total,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
    ),
    scored AS (
      SELECT event_type, h, n, abs(n * cx - t * total) AS c_abs
      FROM cum
    ),
    ranked AS (
      SELECT event_type, h, n, c_abs,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c_abs DESC, h) AS rn
      FROM scored
    )
    SELECT event_type,
           n                                AS n_hours,
           CAST(c_abs AS BIGINT)            AS cusum_abs_max,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS changepoint_hour
    FROM ranked WHERE rn = 1
    """,
    doc=(
        "CUSUM changepoint detection over hourly event counts per "
        "type: the hour maximizing |n*CumSum_t - t*Total| — the "
        "n-scaled cumulative deviation from the global mean, kept in "
        "EXACT BIGINT arithmetic (no mean division, no floats "
        "anywhere), earliest-hour tie-break. The burst/level-shift "
        "locator of a monitoring pipeline: one shuffle to the hourly "
        "grain, two window passes, a top-1 per type."
    ),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wo = Window.partitionBy("event_type").orderBy("h")
    wp = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").alias("cx"),
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.sum("x").over(wp).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    scored = cum.select(
        "event_type",
        "h",
        "n",
        F.abs(F.col("n") * F.col("cx") - F.col("t") * F.col("total")).alias(
            "c_abs"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("c_abs"), F.asc("h"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("c_abs").cast("bigint").alias("cusum_abs_max"),
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias(
                "changepoint_hour"
            ),
        )
    )


@register(
    "events_streaks",
    """
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS h
      FROM events
    ),
    islands AS (
      SELECT user_id, h,
             h - row_number() OVER (PARTITION BY user_id ORDER BY h)
               AS island
      FROM active
    ),
    streaks AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_hours,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    doc=(
        "Gaps-and-islands: longest run of consecutive active hours per "
        "user. Island key = hour_index - row_number() per user, so "
        "consecutive hours share a key; two aggregations finish it."
    ),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-hour streak per user.

    The classic gaps-and-islands pattern: an integer hour index minus
    the per-user row_number is constant exactly along a run of
    consecutive hours, turning streak detection into a plain groupBy.

    Scale notes (100 TB): one distinct (user, hour) aggregation
    (map-side combine collapses the raw events), one window partitioned
    by user (bounded state: a row counter), two hash aggregations.
    All integer arithmetic — no timestamps survive the first projection.
    """
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id",
        F.expr(
            "CAST(timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " AS BIGINT)"
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    islands = active.withColumn(
        "island", F.col("h") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_hours"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@register(
    "events_pattern_vshape",
    """
    WITH s AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c,
             lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_c,
             lead(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_c
      FROM events
    ),
    v AS (
      SELECT event_type,
             CAST((prev_c - c) * 1000000 // prev_c AS BIGINT) AS drop_ppm
      FROM s
      WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
        AND prev_c > c AND next_c > c
        AND (prev_c - c) * 10 >= c AND (next_c - c) * 10 >= c
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           CAST(max(drop_ppm) AS BIGINT) AS max_drop_ppm
    FROM v GROUP BY event_type
    """,
    doc=(
        "Sequence pattern matching (MATCH_RECOGNIZE shape): V-reversals "
        "in the per-type value series — a local minimum at least 10% "
        "below BOTH neighbors — found with one lag/lead window pass; "
        "drop depth as exact integer ppm of the preceding value."
    ),
)
def events_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count V-shaped reversals per event type.

    The declarative form of simple MATCH_RECOGNIZE patterns: any
    fixed-width pattern over an ordered partition is a lag/lead
    projection + a filter — one window pass, state bounded by the
    pattern width, no self-joins. Values are compared in exact integer
    cents (the source prices are 2-decimal), so the pattern predicate
    and the reported depth are engine-stable.

    Scale notes (100 TB): one sort per event_type partition (the same
    sort every per-type window op in this module shares); the pattern
    match itself is a projection. For multi-day series, partition the
    window by (type, day) and stitch the 1-row boundaries.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = F.expr("CAST(round(value * 100) AS BIGINT)")
    s = e.select(
        "event_type",
        c.alias("c"),
        F.lag(c).over(w).alias("prev_c"),
        F.lead(c).over(w).alias("next_c"),
    )
    v = s.filter(
        F.col("prev_c").isNotNull()
        & F.col("next_c").isNotNull()
        & (F.col("prev_c") > F.col("c"))
        & (F.col("next_c") > F.col("c"))
        & ((F.col("prev_c") - F.col("c")) * 10 >= F.col("c"))
        & ((F.col("next_c") - F.col("c")) * 10 >= F.col("c"))
    ).select(
        "event_type",
        F.expr("CAST((prev_c - c) * 1000000 div prev_c AS BIGINT)").alias(
            "drop_ppm"
        ),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vshapes"),
        F.max("drop_ppm").cast("bigint").alias("max_drop_ppm"),
    )


# --------------------------------------------------------------------------
# LTTB downsampling + continuous-aggregate cascade (round 4, late)
# --------------------------------------------------------------------------

#: Equal-count buckets for the LTTB downsample. At 100 TB this is the
#: target display/training resolution, not a function of input size.
_LTTB_BUCKETS = 16


@register(
    "events_downsample_lttb",
    f"""
    WITH pts AS (
      SELECT event_type, event_id,
             CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) - 1
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      FROM events
    ),
    b AS (
      SELECT *, CAST((rn * {_LTTB_BUCKETS}) // cnt AS BIGINT) AS bucket
      FROM pts
    ),
    cent AS (
      SELECT event_type, bucket,
             sum(x) // count(*) AS cx,
             sum(y) // count(*) AS cy
      FROM b GROUP BY 1, 2
    ),
    nbr AS (
      SELECT event_type, bucket,
             lag(cx)  OVER w AS cxp, lag(cy)  OVER w AS cyp,
             lead(cx) OVER w AS cxn, lead(cy) OVER w AS cyn
      FROM cent WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    ),
    scored AS (
      SELECT b.*,
             abs((n.cxp - n.cxn) * (b.y - n.cyp)
                 - (n.cxp - b.x) * (n.cyn - n.cyp)) AS area2
      FROM b JOIN nbr n
        ON b.event_type = n.event_type AND b.bucket = n.bucket
    ),
    sel AS (
      SELECT *, row_number() OVER (
               PARTITION BY event_type, bucket
               ORDER BY CASE WHEN bucket = 0 THEN rn
                             WHEN bucket = {_LTTB_BUCKETS - 1} THEN -rn
                             ELSE -coalesce(area2, 0) END, rn) AS pk
      FROM scored
    )
    SELECT event_type, bucket, event_id, x AS x_sec, y / 100.0 AS value
    FROM sel WHERE pk = 1
    """,
    doc=(
        "Largest-Triangle-Three-Buckets downsampling of each event-type "
        "series to a fixed bucket count: per bucket, keep the point "
        "maximizing the triangle area against the neighboring buckets' "
        "centroids (first/last points always kept). Centroids are "
        "integer-floored (sum div n) so the area argmax is exact BIGINT "
        "arithmetic in both engines."
    ),
)
def events_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each per-type value series to ``_LTTB_BUCKETS`` points
    with the LTTB shape-preserving criterion (Steinarsson 2013).

    Determinism: the classic algorithm anchors each triangle on the
    previously SELECTED point, a sequential dependency. This variant
    anchors on the neighboring buckets' centroids instead (the same
    simplification the reference family of time-series engines ships
    for parallel execution) — every bucket scores independently, so
    the operator is two hash aggregations + one bounded window over
    the tiny per-bucket table. Coordinates are epoch-seconds x integer
    cents; centroids are floored integer averages, so the 2x-area
    cross product is exact BIGINT math (|terms| < ~2^35 at any SF —
    bucket spans contribute differences, never absolutes) and the
    argmax (tie-broken by series order) hash-matches DuckDB.

    Scale notes (100 TB): per-series work is one row_number sort and
    one per-bucket argmax — both partition by event_type; the centroid
    neighbor table is |types| x |buckets| rows, broadcast back. For
    billions of points per type, the rank-based bucketing stays
    balanced by construction (equal-count, not equal-time)."""
    e = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("ts", "event_id")
    pts = (
        e.select(
            "event_type",
            "event_id",
            F.expr(
                "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " ts) AS BIGINT)"
            ).alias("x"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
            (F.row_number().over(wo) - 1).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wt).cast("bigint").alias("cnt"),
        )
        .withColumn(
            "bucket", F.expr(f"CAST(rn * {_LTTB_BUCKETS} div cnt AS BIGINT)")
        )
    )
    cent = pts.groupBy("event_type", "bucket").agg(
        F.expr("sum(x) div count(*)").alias("cx"),
        F.expr("sum(y) div count(*)").alias("cy"),
    )
    wb = Window.partitionBy("event_type").orderBy("bucket")
    nbr = cent.select(
        "event_type",
        "bucket",
        F.lag("cx").over(wb).alias("cxp"),
        F.lag("cy").over(wb).alias("cyp"),
        F.lead("cx").over(wb).alias("cxn"),
        F.lead("cy").over(wb).alias("cyn"),
    )
    scored = pts.join(F.broadcast(nbr), ["event_type", "bucket"]).withColumn(
        "area2",
        F.expr("abs((cxp - cxn) * (y - cyp) - (cxp - x) * (cyn - cyp))"),
    )
    pick = Window.partitionBy("event_type", "bucket").orderBy(
        F.expr(
            f"CASE WHEN bucket = 0 THEN rn"
            f" WHEN bucket = {_LTTB_BUCKETS - 1} THEN -rn"
            f" ELSE -coalesce(area2, CAST(0 AS BIGINT)) END"
        ),
        "rn",
    )
    return (
        scored.withColumn("pk", F.row_number().over(pick))
        .filter(F.col("pk") == 1)
        .select(
            "event_type",
            "bucket",
            "event_id",
            F.col("x").alias("x_sec"),
            (F.col("y") / F.lit(100.0)).alias("value"),
        )
    )


def _duck_day(expr: str = "ts") -> str:
    return (
        "TIMESTAMP '1970-01-01 00:00:00' + ((datediff('second',"
        f" TIMESTAMP '1970-01-01 00:00:00', {expr}) // 86400) * 86400)"
        " * INTERVAL 1 SECOND"
    )


@register(
    "events_rollup_cascade",
    f"""
    SELECT event_type,
           {_duck_day()} AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS volume_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) // count(*) AS BIGINT)
             AS avg_cents
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "Continuous-aggregate cascade: minute rollup from raw, hour "
        "rollup FROM THE MINUTE ROWS, day rollup FROM THE HOUR ROWS. "
        "The oracle aggregates raw events directly at day grain, so "
        "driver equality pins that re-aggregating rollups loses "
        "nothing — the invariant incremental materialized views rely "
        "on. All stats are decomposable (count/sum/min/max in integer "
        "cents; avg derived at the end as sum div count)."
    ),
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-level event stats computed as a minute -> hour -> day
    re-aggregation cascade (the TimescaleDB continuous-aggregate /
    Druid rollup pattern).

    Each level aggregates the PREVIOUS level's rows, not raw data —
    exactly how a hypertable maintains hour rollups incrementally from
    minute rollups. Only decomposable statistics cross levels (count,
    sum, min, max as BIGINT cents); avg is derived once at the end
    (sum div count, exact), never averaged-of-averages.

    Scale notes (100 TB): the raw scan happens ONCE at minute grain;
    every later level aggregates rows already ~1000x smaller. With the
    minute level persisted (streaming_incremental_rollup maintains
    exactly that artifact), day queries never touch raw data — the
    cascade is the query-time contract that makes that storage layout
    safe."""
    e = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    minute = (
        e.select(
            "event_type",
            F.expr(
                "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " ts) div 60 AS BIGINT)"
            ).alias("m"),
            cents.alias("c"),
        )
        .groupBy("event_type", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
            F.min("c").cast("bigint").alias("lo"),
            F.max("c").cast("bigint").alias("hi"),
        )
    )
    hour = (
        minute.withColumn("h", F.expr("m div 60"))
        .groupBy("event_type", "h")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.min("lo").cast("bigint").alias("lo"),
            F.max("hi").cast("bigint").alias("hi"),
        )
    )
    day = (
        hour.withColumn("d", F.expr("h div 24"))
        .groupBy("event_type", "d")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("volume_cents"),
            F.min("lo").cast("bigint").alias("min_cents"),
            F.max("hi").cast("bigint").alias("hi_cents"),
        )
    )
    return day.select(
        "event_type",
        F.expr(
            "timestampadd(SECOND, CAST(d * 86400 AS BIGINT),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("day"),
        "n_events",
        "volume_cents",
        "min_cents",
        F.col("hi_cents").alias("max_cents"),
        F.expr("volume_cents div n_events").cast("bigint").alias("avg_cents"),
    )


#: Truncated exponential window: alpha = 1/2 over the last 16 samples,
#: so the weight vector is [1, 2, 4, ..., 2^15] (oldest -> newest) and
#: the weight total is 2^16 - 1 — all integers, no float decay powers.
_EWMA_W = 16
_EWMA_WEIGHTS = "[" + ", ".join(str(1 << i) for i in range(_EWMA_W)) + "]"


@register(
    "events_ewma",
    f"""
    WITH s AS (
      SELECT event_id, event_type,
             list(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW)
               AS fr
      FROM events
    )
    SELECT event_id, event_type,
           CAST(list_aggregate(
                  list_transform(list_zip(fr, {_EWMA_WEIGHTS}),
                                 p -> p[1] * p[2]),
                  'sum') * 1000 // {(1 << _EWMA_W) - 1} AS BIGINT)
             AS ewma_millicents
    FROM s WHERE len(fr) = {_EWMA_W}
    """,
    doc=(
        "Exponentially-weighted moving average (alpha=1/2) truncated "
        "to a 16-sample frame: weights are exact powers of two and the "
        "normalizer is 2^16-1, so the smoother is pure BIGINT "
        "arithmetic (millicents) — the recursive float EWMA can never "
        "hash-match across engines; this formulation does, with <2^-16 "
        "truncation bias vs the infinite tail."
    ),
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EWMA forecast baseline per event type.

    The recursion s_t = a*v_t + (1-a)*s_{t-1} is inherently sequential
    AND float-ordered; truncating at 16 terms with a = 1/2 turns it
    into a dot product with power-of-two weights over a bounded window
    frame — parallel, exact, and off by at most 2^-16 of the oldest
    mass. Emitted only for full frames, so every output row is the
    same estimator.

    Scale notes (100 TB): identical execution profile to the moving
    median — one per-type sort shared with this module's other window
    ops, 16 BIGINTs of frame state per row, projection-only scoring
    (|terms| < 2^45, no overflow headroom concerns)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_W - 1), Window.currentRow)
    )
    c = F.expr("CAST(round(value * 100) AS BIGINT)")
    s = e.select(
        "event_id",
        "event_type",
        F.collect_list(c).over(w).alias("fr"),
    )
    return s.filter(F.size("fr") == _EWMA_W).select(
        "event_id",
        "event_type",
        F.expr(
            "CAST(aggregate(zip_with(fr,"
            f" array({', '.join(str(1 << i) + 'L' for i in range(_EWMA_W))}),"
            " (x, w) -> x * w), 0L, (a, x) -> a + x) * 1000"
            f" div {(1 << _EWMA_W) - 1} AS BIGINT)"
        ).alias("ewma_millicents"),
    )


@register(
    "events_rolling_mau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                  // 86400 AS BIGINT) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    x AS (
      SELECT u.user_id, dy.d AS t
      FROM ud u JOIN days dy ON dy.d BETWEEN u.d AND u.d + 6
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00' + (t * 86400) * INTERVAL 1 SECOND
             AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau7
    FROM x GROUP BY t
    """,
    doc=(
        "Rolling 7-day active users (MAU-style) per day, EXACT: the "
        "(user, day) activity set — already deduplicated, so the "
        "expansion input is bounded by users x days, not events — "
        "explodes each activity into the 7 target days it supports, "
        "and a count-distinct per target day reads the rolling "
        "cardinality off. Only days present in the data are reported."
    ),
)
def events_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day distinct-user count per active day.

    Rolling COUNT(DISTINCT) admits no window frame (distinct doesn't
    decompose), and sketches (HLL/KMV) trade exactness. The exact
    distributed form: dedup to (user, day) FIRST (one shuffle that
    shrinks events to activity), explode each activity row into the
    <=7 days whose trailing window contains it (a projection), and
    hash-aggregate count-distinct per day.

    Scale notes (100 TB): cost is 7x the ACTIVITY table, not 7x the
    event log — dedup-before-expand is the load-bearing order. The
    final count(distinct) is itself a two-phase partial aggregation
    on (day, user). Window length w scales linearly; for w in the
    hundreds, switch to the sorted-day interval-merge form or a
    mergeable sketch (agg_kmv_distinct)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.expr(
            "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " ts) div 86400 AS BIGINT)"
        ).alias("d"),
    ).distinct()
    days = ud.select(F.col("d").alias("t")).distinct()
    x = ud.withColumn(
        "t", F.explode(F.expr("sequence(d, d + 6)"))
    ).join(F.broadcast(days), "t", "left_semi")
    return (
        x.groupBy("t")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau7"))
        .select(
            F.expr(
                "timestampadd(SECOND, CAST(t * 86400 AS BIGINT),"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ).alias("day"),
            "mau7",
        )
    )


def _duck_med2(src: str, col: str) -> str:
    """Histogram-median CTE chain over (event_type, {col}) in ``src``:
    yields (event_type, med2) where med2 = lower middle + upper middle
    — the same no-float convention as agg_median_histogram."""
    return f"""
      SELECT event_type,
             CAST(min(CASE WHEN cum >= (tot + 1) // 2 THEN v END)
                  + min(CASE WHEN cum >= tot // 2 + 1 THEN v END) AS BIGINT)
               AS med2
      FROM (
        SELECT event_type, v, 
               sum(n) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               sum(n) OVER (PARTITION BY event_type) AS tot
        FROM (SELECT event_type, {col} AS v, CAST(count(*) AS BIGINT) AS n
              FROM {src} GROUP BY 1, 2) h
      ) s GROUP BY event_type
    """


@register(
    "events_anomaly_mad",
    f"""
    WITH c0 AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    m1 AS ({_duck_med2("c0", "c")}),
    d0 AS (
      SELECT c0.event_type, abs(2 * c0.c - m1.med2) AS dev2
      FROM c0 JOIN m1 USING (event_type)
    ),
    m2 AS ({_duck_med2("d0", "dev2")})
    SELECT d0.event_type,
           CAST(max(m1.med2) AS BIGINT) AS med2_cents,
           CAST(max(m2.med2) AS BIGINT) AS mad4_cents,
           CAST(count(*) AS BIGINT)     AS n,
           CAST(sum(CASE WHEN d0.dev2 * 2 > 3 * m2.med2 THEN 1 ELSE 0 END)
                AS BIGINT)              AS n_outliers
    FROM d0
    JOIN m1 ON d0.event_type = m1.event_type
    JOIN m2 ON d0.event_type = m2.event_type
    GROUP BY 1
    """,
    doc=(
        "Robust (median/MAD) anomaly detection per event type — the "
        "outlier-resistant sibling of events_anomaly_zscore, whose "
        "mean/stddev an adversarial tail can drag. Both medians come "
        "from the counting-sort histogram (agg_median_histogram's "
        "plan, applied twice: values, then absolute deviations in "
        "doubled-integer space), so |x-med| > 3*MAD evaluates as pure "
        "BIGINT: dev2*2 > 3*mad4."
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier counts, exact and sort-free.

    Doubled-space trick: med2 = 2x median and mad4 = 2x median of
    (2x deviations) = 4x MAD stay integral for even counts, so the
    classic |x - median| > 3 * MAD cutoff is the integer comparison
    dev2 * 2 > 3 * mad4 — no float quantiles, engine-exact.

    Scale notes (100 TB): two histogram-median passes (each one
    map-side-combined count + a window over the bounded value domain)
    plus one broadcast join of the tiny per-type medians back to the
    deviation stream. Nothing sorts raw rows; nothing collects."""
    e = load_table(spark, sf_dir, "events")
    c0 = e.select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    )

    def med2_of(df: DataFrame, col: str) -> DataFrame:
        h = df.groupBy("event_type", F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        wc = (
            Window.partitionBy("event_type")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt = Window.partitionBy("event_type")
        s = h.select(
            "event_type",
            "v",
            F.sum("n").over(wc).alias("cum"),
            F.sum("n").over(wt).alias("tot"),
        )
        lo = F.min(F.when(F.col("cum") >= F.expr("(tot + 1) div 2"), F.col("v")))
        hi = F.min(F.when(F.col("cum") >= F.expr("tot div 2 + 1"), F.col("v")))
        return s.groupBy("event_type").agg(
            (lo + hi).cast("bigint").alias("med2")
        )

    m1 = med2_of(c0, "c")
    d0 = c0.join(F.broadcast(m1), "event_type").select(
        "event_type", F.expr("abs(2 * c - med2)").alias("dev2")
    )
    m2 = med2_of(d0, "dev2").withColumnRenamed("med2", "mad4")
    return (
        d0.join(F.broadcast(m1), "event_type")
        .join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med2").cast("bigint").alias("med2_cents"),
            F.max("mad4").cast("bigint").alias("mad4_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.expr("dev2 * 2 > 3 * mad4"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "events_path_topk",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), paths AS (
      SELECT user_id, session_id,
             array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(count(*) AS BIGINT)              AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
    doc=(
        "Top-10 session paths (first 5 event types per 30-min-gap "
        "session): the product-analytics 'common journeys' query. "
        "Session ids come from the lag->flag->running-sum sessionize "
        "skeleton; the path string is built from a SORTED struct "
        "collect (collect_list alone is shuffle-order-dependent, so "
        "the sort_array(struct(ts,event_id,type)) form is what makes "
        "the result deterministic and driver-hashable)."
    ),
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent session-opening event paths.

    Scale notes (100 TB): two shuffles on user_id (window + session
    agg), then one on the bounded path domain (|event types|^5 max,
    in practice a few hundred); the top-10 is TakeOrderedAndProject.
    The per-session collect is capped by ``slice(..., 1, 5)`` after an
    in-memory sort of that session's structs — sessions are bounded by
    the inactivity gap, so no group outgrows an executor."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    sess = (
        ev.withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            (F.col("_prev_ts").isNull() | (gap_us > 1800 * 1_000_000)).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.collect_list(F.struct("ts", "event_id", "event_type")).alias("evs")
        )
        .select(
            "user_id",
            F.array_join(
                F.transform(
                    F.slice(F.sort_array("evs"), 1, 5), lambda x: x["event_type"]
                ),
                ">",
            ).alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "events_funnel_windowed",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT p.user_id, p.signup_ts,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts >= p.signup_ts
                      THEN e.ts END) AS first_purchase
      FROM per_user p JOIN events e ON e.user_id = p.user_id
      WHERE p.signup_ts IS NOT NULL
      GROUP BY p.user_id, p.signup_ts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_signed,
           CAST(count(first_purchase) AS BIGINT) AS n_converted,
           CAST(count(CASE WHEN datediff('microsecond', signup_ts, first_purchase)
                                <= 604800000000 THEN 1 END) AS BIGINT)
             AS conv_7d,
           CAST(count(CASE WHEN datediff('microsecond', signup_ts, first_purchase)
                                <= 2592000000000 THEN 1 END) AS BIGINT)
             AS conv_30d,
           CAST(sum(datediff('microsecond', signup_ts, first_purchase))
                  // 3600000000 AS BIGINT) AS total_hours_to_convert
    FROM conv
    """,
    doc=(
        "Windowed funnel conversion (signup -> first purchase within "
        "7/30 days) — the standard product-analytics ask the plain "
        "funnel can't answer. Elapsed time compares at MICROSECOND "
        "precision on both engines (hour/day-granularity diffs "
        "truncate vs count boundary crossings differently in Spark vs "
        "DuckDB); the aggregate hour total derives from the microsecond "
        "sum with one integer division."
    ),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-within-window funnel over the event stream.

    Scale notes (100 TB): two shuffles on user_id (the per-user min
    and the conversion join — co-partitioned, so AQE folds them), then
    a single global scalar aggregate. No windows, no self-join at the
    event grain."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        )
    ).filter(F.col("signup_ts").isNotNull())
    conv = (
        per_user.join(ev, "user_id")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("signup_ts")),
                    F.col("ts"),
                )
            ).alias("first_purchase")
        )
    )
    us = "timestampdiff(MICROSECOND, signup_ts, first_purchase)"
    return conv.agg(
        F.count(F.lit(1)).alias("n_signed"),
        F.count("first_purchase").cast("bigint").alias("n_converted"),
        F.count(F.when(F.expr(f"{us} <= 604800000000L"), 1))
        .cast("bigint")
        .alias("conv_7d"),
        F.count(F.when(F.expr(f"{us} <= 2592000000000L"), 1))
        .cast("bigint")
        .alias("conv_30d"),
        F.expr(f"sum({us}) div 3600000000").cast("bigint").alias(
            "total_hours_to_convert"
        ),
    )


@register(
    "events_top_movers",
    """
    WITH days AS (
      SELECT event_type,
             datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400 AS d
      FROM events
    ), bound AS (SELECT max(d) AS gd FROM days)
    SELECT event_type,
           CAST(count(CASE WHEN d BETWEEN gd - 6 AND gd THEN 1 END) AS BIGINT)
             AS n_cur,
           CAST(count(CASE WHEN d BETWEEN gd - 13 AND gd - 7 THEN 1 END) AS BIGINT)
             AS n_prev,
           CAST((count(CASE WHEN d BETWEEN gd - 6 AND gd THEN 1 END)
                 - count(CASE WHEN d BETWEEN gd - 13 AND gd - 7 THEN 1 END))
                * 1000000
                // greatest(count(CASE WHEN d BETWEEN gd - 13 AND gd - 7 THEN 1 END), 1)
                AS BIGINT) AS change_ppm
    FROM days, bound
    GROUP BY event_type
    """,
    doc=(
        "Week-over-week top movers per event type: the last-7-days "
        "vs prior-7-days counts and the exact ppm change, anchored at "
        "the corpus's own max day (a data-derived parameter computed "
        "with the SAME integer formula on both sides — scalar subquery "
        "in the oracle, one metadata-cheap max() collect in Spark)."
    ),
)
def events_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period movement report.

    Scale notes (100 TB): the anchor max() is one reduced scan; the
    report is a single conditional aggregate over the bounded type
    domain — both windows come from the same pass (no two-scan
    self-join). The ppm change is integer `div` with a greatest(1)
    floor, exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " div 86400"
        ).alias("d"),
    )
    gd = int(days.agg(F.max("d")).first()[0])
    cur = F.count(F.when(F.col("d").between(gd - 6, gd), 1))
    prev = F.count(F.when(F.col("d").between(gd - 13, gd - 7), 1))
    return days.groupBy("event_type").agg(
        cur.cast("bigint").alias("n_cur"),
        prev.cast("bigint").alias("n_prev"),
        F.expr(
            f"(count(CASE WHEN d BETWEEN {gd - 6} AND {gd} THEN 1 END)"
            f" - count(CASE WHEN d BETWEEN {gd - 13} AND {gd - 7} THEN 1 END))"
            f" * 1000000 div greatest(count(CASE WHEN d BETWEEN {gd - 13}"
            f" AND {gd - 7} THEN 1 END), 1)"
        )
        .cast("bigint")
        .alias("change_ppm"),
    )


@register(
    "events_stickiness",
    """
    WITH days AS (
      SELECT user_id,
             datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400 AS d
      FROM events
    ), bound AS (SELECT max(d) AS gd FROM days)
    SELECT CAST(count(DISTINCT CASE WHEN d = gd THEN user_id END) AS BIGINT)
             AS dau,
           CAST(count(DISTINCT CASE WHEN d >= gd - 6 THEN user_id END) AS BIGINT)
             AS wau,
           CAST(count(DISTINCT CASE WHEN d >= gd - 29 THEN user_id END) AS BIGINT)
             AS mau,
           CAST(count(DISTINCT CASE WHEN d = gd THEN user_id END) * 1000000
                // count(DISTINCT CASE WHEN d >= gd - 29 THEN user_id END)
                AS BIGINT) AS stickiness_ppm
    FROM days, bound
    """,
    doc=(
        "DAU/WAU/MAU snapshot + stickiness (DAU/MAU ppm) anchored at "
        "the corpus's max day — the product KPI header. All three "
        "distinct counts come from ONE conditional expand (no three "
        "scans); events_rolling_mau is the per-day series sibling."
    ),
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-user snapshot KPIs from one conditional aggregate."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " div 86400"
        ).alias("d"),
    )
    gd = int(days.agg(F.max("d")).first()[0])
    dau = F.countDistinct(F.when(F.col("d") == gd, F.col("user_id")))
    wau = F.countDistinct(F.when(F.col("d") >= gd - 6, F.col("user_id")))
    mau = F.countDistinct(F.when(F.col("d") >= gd - 29, F.col("user_id")))
    return days.agg(
        dau.cast("bigint").alias("dau"),
        wau.cast("bigint").alias("wau"),
        mau.cast("bigint").alias("mau"),
        F.expr(
            f"count(DISTINCT CASE WHEN d = {gd} THEN user_id END) * 1000000"
            f" div count(DISTINCT CASE WHEN d >= {gd - 29} THEN user_id END)"
        )
        .cast("bigint")
        .alias("stickiness_ppm"),
    )


@register(
    "events_time_to_convert",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN
                   datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
                 END) AS first_view_us
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT e.user_id,
             (min(datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00',
                           e.ts)) - f.first_view_us) // 60000000 AS cell
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
        AND f.first_view_us IS NOT NULL
        AND datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', e.ts)
            >= f.first_view_us
      GROUP BY e.user_id, f.first_view_us
    ), hist AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS w FROM conv GROUP BY cell
    ), cum AS (
      SELECT cell, w,
             sum(w) OVER (ORDER BY cell
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             sum(w) OVER () AS tot
      FROM hist
    )
    SELECT CAST(min(tot) AS BIGINT) AS n_converted,
           CAST(min(CASE WHEN 2 * cw >= tot THEN cell END) AS BIGINT)
             AS median_minutes,
           CAST(min(CASE WHEN 10 * cw >= 9 * tot THEN cell END) AS BIGINT)
             AS p90_minutes,
           CAST(max(cell) AS BIGINT) AS max_minutes
    FROM cum
    """,
    doc=(
        "Time-to-convert distribution: per user, first view -> first "
        "subsequent purchase, exact median/p90/max in whole minutes via "
        "the counting-histogram cumulative trick (agg_median_histogram "
        "generalized to latency percentiles) — no global sort of user "
        "deltas, the window runs over bounded minute cells. Timestamps "
        "compared at MICROSECOND precision on both engines."
    ),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles over view->purchase journeys.

    Scale notes (100 TB): one user_id rollup for first views, one
    filtered join + rollup for first qualifying purchases (both
    co-partitioned on user_id), then a minute-cell histogram whose
    cumulative window covers |cells| rows, never users."""
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.expr(us))
            ).alias("first_view_us")
        )
        .filter(F.col("first_view_us").isNotNull())
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.expr(us).alias("__pus"))
        .join(firsts, "user_id")
        .filter(F.col("__pus") >= F.col("first_view_us"))
        .groupBy("user_id", "first_view_us")
        .agg(
            F.expr("(min(__pus) - first_view_us) div 60000000").alias("cell")
        )
    )
    hist = conv.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    w_cum = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cw", F.sum("w").over(w_cum)).withColumn(
        "tot", F.sum("w").over(Window.partitionBy())
    )
    return cum.agg(
        F.min("tot").cast("bigint").alias("n_converted"),
        F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("cell")))
        .cast("bigint")
        .alias("median_minutes"),
        F.min(F.when(10 * F.col("cw") >= 9 * F.col("tot"), F.col("cell")))
        .cast("bigint")
        .alias("p90_minutes"),
        F.max("cell").cast("bigint").alias("max_minutes"),
    )


@register(
    "feature_store_pit",
    """
    WITH feat AS (
      SELECT user_id, ts, event_type, event_id,
             max(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_signup_ts,
             count(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS n_prior_clicks,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_purchase_cents,
             max(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_error_ts
      FROM events
    )
    SELECT user_id, ts AS purchase_ts,
           CAST(n_prior_clicks AS BIGINT) AS n_prior_clicks,
           CAST(coalesce(prior_purchase_cents, 0) AS BIGINT)
             AS prior_purchase_cents,
           CASE WHEN last_signup_ts IS NULL THEN 0 ELSE 1 END AS signed_up,
           CAST(date_diff('microsecond', last_error_ts, ts) // 1000000
                AS BIGINT) AS secs_since_error
    FROM feat
    WHERE event_type = 'purchase'
    """,
    doc=(
        "Point-in-time-correct feature assembly (the feature-store "
        "MERGE every training pipeline needs): for each purchase, "
        "4 features computed strictly from EARLIER events — last "
        "signup, prior click count, prior purchase revenue, seconds "
        "since last error — via ONE pass of 1-PRECEDING windows over "
        "the unioned event stream. No joins, no leakage: the window "
        "bound IS the PIT guarantee."
    ),
)
def feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free PIT features from a single windowed pass.

    Scale notes (100 TB): one shuffle on user_id serves ALL features
    (vs one as-of join per feature table); adding a feature is adding
    a conditional aggregate, not a join. Revenue is exact integer
    cents; the error gap is microsecond-exact, floored to seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    typed = lambda t, col: F.when(F.col("event_type") == t, col)  # noqa: E731
    feat = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.max(typed("signup", F.col("ts"))).over(w).alias("last_signup_ts"),
        F.count(typed("click", F.lit(1))).over(w).alias("n_prior_clicks"),
        F.sum(
            typed("purchase", F.expr("CAST(round(value * 100) AS BIGINT)"))
        )
        .over(w)
        .alias("prior_purchase_cents"),
        F.max(typed("error", F.col("ts"))).over(w).alias("last_error_ts"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("n_prior_clicks").cast("bigint").alias("n_prior_clicks"),
        F.coalesce("prior_purchase_cents", F.lit(0))
        .cast("bigint")
        .alias("prior_purchase_cents"),
        F.when(F.col("last_signup_ts").isNull(), 0).otherwise(1).alias("signed_up"),
        F.expr(
            "timestampdiff(MICROSECOND, last_error_ts, ts) div 1000000"
        )
        .cast("bigint")
        .alias("secs_since_error"),
    )


@register(
    "events_inactivity_churn",
    """
    WITH lastseen AS (
      SELECT user_id,
             max(datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts))
               AS last_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ), g AS (
      SELECT (SELECT max(last_us) FROM lastseen) AS now_us
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN g.now_us - last_us <= 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_active_7d,
           CAST(sum(CASE WHEN g.now_us - last_us > 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned_7d,
           CAST(sum(CASE WHEN g.now_us - last_us > 604800000000
                         THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS churn_ppm,
           CAST(sum(CASE WHEN g.now_us - last_us > 604800000000
                         THEN n_events ELSE 0 END) AS BIGINT)
             AS churned_event_mass
    FROM lastseen CROSS JOIN g
    """,
    doc=(
        "Inactivity churn report: users whose last event is older than "
        "7 days relative to the corpus watermark (the data-derived "
        "max timestamp — same scalar on both engines), with exact-ppm "
        "churn rate and the event mass walking out the door. 7 days in "
        "microseconds is the FOLDED constant 604800000000 (int literal "
        "products overflow INT32 in both engines)."
    ),
)
def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day inactivity churn vs the corpus watermark.

    Scale notes (100 TB): one user_id rollup; the watermark is a
    single-row aggregate broadcast into the final projection; output
    is one row."""
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load_table(spark, sf_dir, "events")
    lastseen = ev.groupBy("user_id").agg(
        F.max(F.expr(us)).alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    gone = F.col("__now_us") - F.col("last_us") > 604800000000
    return (
        lastseen.crossJoin(
            F.broadcast(lastseen.agg(F.max("last_us").alias("__now_us")))
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(~gone, 1).otherwise(0))
            .cast("bigint")
            .alias("n_active_7d"),
            F.sum(F.when(gone, 1).otherwise(0))
            .cast("bigint")
            .alias("n_churned_7d"),
            F.expr(
                "sum(CASE WHEN __now_us - last_us > 604800000000"
                " THEN 1 ELSE 0 END) * 1000000 div count(*)"
            )
            .cast("bigint")
            .alias("churn_ppm"),
            F.sum(F.when(gone, F.col("n_events")).otherwise(0))
            .cast("bigint")
            .alias("churned_event_mass"),
        )
    )


@register(
    "events_interval_merge",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS s_us,
             datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               + (300 + (event_id % 10) * 60) * 1000000 AS e_us
      FROM events WHERE event_type = 'view'
    ), flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN max(e_us) OVER (PARTITION BY user_id
                                       ORDER BY s_us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) IS NULL
                    OR s_us > max(e_us) OVER (PARTITION BY user_id
                                              ORDER BY s_us, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_span
      FROM iv
    ), islands AS (
      SELECT user_id, s_us, e_us,
             sum(new_span) OVER (PARTITION BY user_id
                                 ORDER BY s_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS span_id
      FROM flagged
    ), spans AS (
      SELECT user_id, span_id,
             CAST(count(*) AS BIGINT) AS n_intervals,
             max(e_us) - min(s_us) AS span_us
      FROM islands GROUP BY user_id, span_id
    )
    SELECT user_id,
           CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT)         AS n_spans,
           CAST(sum(span_us) // 1000000 AS BIGINT) AS covered_secs,
           CAST(max(span_us) // 1000000 AS BIGINT) AS max_span_secs
    FROM spans GROUP BY user_id
    """,
    doc=(
        "Interval union (merge overlapping activity windows) via "
        "gaps-and-islands: a span starts where an interval's start "
        "exceeds the running max of all previous ends — two ordered "
        "windows per user, NO self-join (the naive overlap-join "
        "approach is quadratic per user). Per-user span counts and "
        "exact covered seconds — the utilization/SLA primitive."
    ),
)
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged activity spans per user via the islands technique.

    Scale notes (100 TB): one shuffle on user_id; both windows are
    single-pass ordered scans within each user partition; microsecond
    integers end to end."""
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.expr(us).alias("s_us"),
        F.expr(f"{us} + (300 + (event_id % 10) * 60) * 1000000").alias("e_us"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn("__pmax", F.max("e_us").over(w_prev)).withColumn(
        "new_span",
        F.when(
            F.col("__pmax").isNull() | (F.col("s_us") > F.col("__pmax")), 1
        ).otherwise(0),
    )
    # same total order as w_prev: a tie on s_us must be flagged and
    # numbered in one order, or the islands split wrongly
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("span_id", F.sum("new_span").over(w_cum))
    spans = islands.groupBy("user_id", "span_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        (F.max("e_us") - F.min("s_us")).alias("span_us"),
    )
    return spans.groupBy("user_id").agg(
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.expr("sum(span_us) div 1000000").cast("bigint").alias("covered_secs"),
        F.expr("max(span_us) div 1000000").cast("bigint").alias("max_span_secs"),
    )


@register(
    "events_peak_concurrency",
    """
    WITH iv AS (
      SELECT datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS s_us,
             datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               + (300 + (event_id % 10) * 60) * 1000000 AS e_us
      FROM events WHERE event_type = 'view'
    ), deltas AS (
      SELECT s_us AS t_us, 1 AS d FROM iv
      UNION ALL
      SELECT e_us AS t_us, -1 AS d FROM iv
    ), b AS (
      SELECT t_us, d, t_us // 3600000000 AS bucket FROM deltas
    ), bsum AS (
      SELECT bucket, CAST(sum(d) AS BIGINT) AS bd FROM b GROUP BY bucket
    ), carry AS (
      SELECT bucket,
             coalesce(sum(bd) OVER (ORDER BY bucket
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS carry_in
      FROM bsum
    ), cum AS (
      SELECT b.t_us, c.carry_in
             + sum(b.d) OVER (PARTITION BY b.bucket
                              ORDER BY b.t_us, b.d DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS conc
      FROM b JOIN carry c USING (bucket)
    )
    SELECT CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST(min(CASE WHEN conc = (SELECT max(conc) FROM cum)
                         THEN t_us END) AS BIGINT) AS peak_t_us,
           CAST(count(*) // 2 AS BIGINT) AS n_intervals
    FROM cum
    """,
    doc=(
        "Peak concurrency over activity windows via the DISTRIBUTED "
        "prefix-sum: +1/-1 boundary deltas bucketed by hour, per-bucket "
        "sums prefix-scanned (a buckets-sized window), carry-in added "
        "to each bucket's internal cumulative — the global running "
        "count without a single-partition global sort. Ends sort "
        "before starts at the same microsecond (d DESC... starts "
        "first: +1 before -1), making 'concurrent' boundary-inclusive "
        "deterministically on both engines."
    ),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global peak concurrent view-windows via two-level prefix sums.

    Scale notes (100 TB): bucket carry-ins are a COLLECTED plan
    parameter (bounded: hours in the time range — the global_row_number
    offsets discipline), so the final plan scans the delta projection
    ONCE with a bucket-partitioned window and one broadcast join; peak,
    its earliest time, and the interval count come from one struct-max
    aggregate (plan pinned in tests/test_plans.py)."""
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    iv = ev.select(
        F.expr(us).alias("s_us"),
        F.expr(f"{us} + (300 + (event_id % 10) * 60) * 1000000").alias("e_us"),
    )
    deltas = iv.select(F.col("s_us").alias("t_us"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("e_us").alias("t_us"), F.lit(-1).alias("d"))
    )
    b = deltas.withColumn("bucket", F.expr("t_us div 3600000000"))
    # bucket prefix sums, collected once (|hours| rows) and broadcast
    # back — keeps the big side single-scan
    bsums = sorted(
        (int(r["bucket"]), int(r["bd"]))
        for r in b.groupBy("bucket")
        .agg(F.sum("d").cast("bigint").alias("bd"))
        .collect()
    )
    acc = 0
    rows = []
    for bucket, bd in bsums:
        rows.append((bucket, acc))
        acc += bd
    carry = ev.sparkSession.createDataFrame(
        rows, "bucket long, carry_in long"
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("t_us").asc(), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = b.join(F.broadcast(carry), "bucket").select(
        "t_us", (F.col("carry_in") + F.sum("d").over(w_in)).alias("conc")
    )
    # one pass: max of (conc, -t_us) = peak with its EARLIEST time;
    # count(*)/2 = interval count (every interval contributes 2 deltas)
    return cum.agg(
        F.max(
            F.struct(F.col("conc").alias("c"), (-F.col("t_us")).alias("nt"))
        ).alias("__m"),
        F.expr("count(*) div 2").cast("bigint").alias("n_intervals"),
    ).select(
        F.col("__m.c").cast("bigint").alias("peak_concurrency"),
        (-F.col("__m.nt")).cast("bigint").alias("peak_t_us"),
        "n_intervals",
    )


@register(
    "events_wavelet_haar",
    """
    WITH bounds AS (
      SELECT datediff('hour', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS h0,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS h1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, h1 - h0 + 1)) AS idx, h0 FROM bounds
    ), cnt AS (
      SELECT datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), l0 AS (
      SELECT s.idx AS idx, CAST(coalesce(c.c, 0) AS BIGINT) AS a
      FROM spine s LEFT JOIN cnt c ON c.h = s.h0 + s.idx
    ), l1 AS (
      SELECT idx // 2 AS idx, CAST(sum(a) AS BIGINT) AS a,
             CAST(sum(CASE WHEN idx % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS d
      FROM l0 GROUP BY idx // 2
    ), l2 AS (
      SELECT idx // 2 AS idx, CAST(sum(a) AS BIGINT) AS a,
             CAST(sum(CASE WHEN idx % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS d
      FROM l1 GROUP BY idx // 2
    ), l3 AS (
      SELECT idx // 2 AS idx, CAST(sum(a) AS BIGINT) AS a,
             CAST(sum(CASE WHEN idx % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS d
      FROM l2 GROUP BY idx // 2
    ), l4 AS (
      SELECT idx // 2 AS idx, CAST(sum(a) AS BIGINT) AS a,
             CAST(sum(CASE WHEN idx % 2 = 0 THEN a ELSE -a END) AS BIGINT) AS d
      FROM l3 GROUP BY idx // 2
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum(d * d) AS BIGINT) AS detail_energy,
             CAST(max(abs(d)) AS BIGINT) AS max_abs_detail
      FROM l1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT),
             CAST(max(abs(d)) AS BIGINT) FROM l2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT),
             CAST(max(abs(d)) AS BIGINT) FROM l3
      UNION ALL
      SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT),
             CAST(max(abs(d)) AS BIGINT) FROM l4
    ) t
    """,
    doc=(
        "Unnormalized Haar wavelet pyramid over the dense hourly event "
        "series: 4 decomposition levels, each halving resolution "
        "(approximation a = pair sum, detail d = pair difference — "
        "integer-exact, no sqrt(2) normalization), reporting per-level "
        "coefficient count, detail energy, and the largest burst "
        "coefficient. The multi-resolution anomaly screen: energy "
        "concentrated at fine levels = spiky traffic, coarse levels = "
        "regime shifts. Dangling odd tails pair with an implicit zero "
        "on both engines."
    ),
)
def events_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level integer Haar pyramid over hourly counts.

    Scale notes (100 TB): ONE fact scan builds the |hours|-row dense
    rollup, which is localCheckpoint-materialized; every level is a
    halving groupBy over that bounded series (level k has |hours|/2^k
    rows), so the four per-level stat branches re-execute only tiny
    checkpointed-arithmetic lineage, never the fact scan. The dense
    spine comes from a 1-row (min, max) aggregate exploded via
    sequence — no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(HOUR, {epoch}, min(ts))").alias("h0"),
        F.expr(f"timestampdiff(HOUR, {epoch}, max(ts))").alias("h1"),
    )
    spine = b.select(
        "h0", F.explode(F.expr("sequence(0, h1 - h0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(HOUR, {epoch}, ts)").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    l0 = (
        spine.join(cnt, cnt.h == spine.h0 + spine.idx, "left")
        .select(
            F.col("idx").cast("bigint").alias("idx"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("a"),
        )
        .localCheckpoint(eager=True)
    )
    halve = lambda df: df.groupBy(  # noqa: E731
        F.expr("idx div 2").alias("idx")
    ).agg(
        F.sum("a").cast("bigint").alias("a"),
        F.sum(F.expr("CASE WHEN idx % 2 = 0 THEN a ELSE -a END"))
        .cast("bigint")
        .alias("d"),
    )
    cur, stats = l0, []
    for k in range(1, 5):
        cur = halve(cur)
        stats.append(
            cur.agg(
                F.lit(k).cast("bigint").alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
                F.sum(F.expr("d * d")).cast("bigint").alias("detail_energy"),
                F.max(F.abs("d")).cast("bigint").alias("max_abs_detail"),
            )
        )
        cur = cur.select("idx", "a")
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


@register(
    "dq_freshness_lag",
    """
    WITH t AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             max(ts) AS mx
      FROM events GROUP BY event_type
    ), g AS (SELECT max(mx) AS gmx FROM t)
    SELECT t.event_type,
           t.n_events,
           strftime(t.mx, '%Y-%m-%d %H:%M:%S') AS last_seen,
           CAST(datediff('microsecond', t.mx, g.gmx) AS BIGINT)
             AS lag_micros,
           CASE WHEN datediff('microsecond', t.mx, g.gmx)
                     > 3600000000 THEN 1 ELSE 0 END AS stale_flag
    FROM t CROSS JOIN g
    """,
    doc=(
        "Per-source freshness audit: each event type's last-seen "
        "timestamp and its lag behind the newest event anywhere, in "
        "exact microseconds (the SLA monitor every ingestion pipeline "
        "publishes; stale_flag trips past 1 hour). Timestamps compared "
        "at MICROSECOND precision on both engines (gotcha list); "
        "last_seen emitted as a formatted string, never a raw "
        "DATE/TIMESTAMP."
    ),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion freshness per event type vs the global frontier.

    Scale notes (100 TB): one combinable (count, max) aggregate per
    type; the global max is a |types|-row re-aggregate broadcast back
    via crossJoin of a 1-row frame — no second fact scan, no window
    over the fact."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("mx"),
    )
    g = t.agg(F.max("mx").alias("gmx"))
    return (
        t.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            F.date_format("mx", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            F.expr("timestampdiff(MICROSECOND, mx, gmx)")
            .cast("bigint")
            .alias("lag_micros"),
            F.expr(
                "CASE WHEN timestampdiff(MICROSECOND, mx, gmx)"
                " > 3600000000 THEN 1 ELSE 0 END"
            ).cast("int")
            .alias("stale_flag"),
        )
    )


@register(
    "events_changepoint_binseg",
    """
    WITH d AS (
      SELECT CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM d
    ), pre AS (
      SELECT day, x,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS n1,
             CAST(sum(x) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s1
      FROM d
    ), scored AS (
      SELECT p.day, p.n1, p.s1, t.n - p.n1 AS n2, t.s - p.s1 AS s2,
             t.n, t.s,
             CAST(p.s1 * p.s1 * 1000 // p.n1
                  + (t.s - p.s1) * (t.s - p.s1) * 1000 // (t.n - p.n1)
                  AS BIGINT) AS obj_milli
      FROM pre p CROSS JOIN tot t
      WHERE p.n1 < t.n
    )
    SELECT day AS split_day, n1 AS n_days_left, n2 AS n_days_right,
           CAST(s1 // n1 AS BIGINT) AS mean_left,
           CAST(s2 // n2 AS BIGINT) AS mean_right,
           CAST(obj_milli - s * s * 1000 // n AS BIGINT) AS gain_milli
    FROM scored
    ORDER BY obj_milli DESC, day
    LIMIT 1
    """,
    doc=(
        "Binary-segmentation changepoint over the daily event-count "
        "series: the split maximizing the between-segment objective "
        "S1^2/n1 + S2^2/n2 (equivalently minimizing total SSE — the "
        "sum-of-squares identity), evaluated for every split from ONE "
        "prefix-sum pass. Objective in exact milli-scaled integers "
        "(defined identically on both engines), argmax tie-broken by "
        "day; gain_milli is the objective lift over the unsplit "
        "series. Complements the CUSUM detector with the offline "
        "segmentation shape."
    ),
)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint via prefix sums, integer objective.

    Scale notes (100 TB): one fact rollup to |days| rows; the prefix
    window and the argmax run over that bounded series (days — the
    repo's bounded-domain window convention); totals ride a 1-row
    broadcast crossJoin. Overflow: s1^2*1000 needs total daily-count
    sums under ~3e7 — at larger scale divmod-chain the objective."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    d = ev.groupBy(
        F.expr(f"CAST(timestampdiff(DAY, {epoch}, ts) AS BIGINT)").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    w = Window.orderBy("day")
    pre = d.select(
        "day",
        "x",
        F.row_number().over(w).cast("bigint").alias("n1"),
        F.sum("x")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("s1"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("n1") < F.col("n"))
        .select(
            "day",
            "n1",
            "s1",
            (F.col("n") - F.col("n1")).alias("n2"),
            (F.col("s") - F.col("s1")).alias("s2"),
            "n",
            "s",
            F.expr(
                "CAST(s1 * s1 * 1000 div n1"
                " + (s - s1) * (s - s1) * 1000 div (n - n1) AS BIGINT)"
            ).alias("obj_milli"),
        )
    )
    return (
        scored.orderBy(F.desc("obj_milli"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            F.col("n1").alias("n_days_left"),
            F.col("n2").alias("n_days_right"),
            F.expr("s1 div n1").cast("bigint").alias("mean_left"),
            F.expr("s2 div n2").cast("bigint").alias("mean_right"),
            F.expr("obj_milli - s * s * 1000 div n")
            .cast("bigint")
            .alias("gain_milli"),
        )
    )


@register(
    "events_forecast_holt",
    """
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), st AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT x FROM ser WHERE rn = 1) * 1000 AS l,
             ((SELECT x FROM ser WHERE rn = 2)
              - (SELECT x FROM ser WHERE rn = 1)) * 1000 AS b
      UNION ALL
      SELECT d.rn,
             (200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000,
             (100 * ((200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000 - s.l)
              + 900 * s.b) // 1000
      FROM st s JOIN ser d ON d.rn = s.rn + 1
    ), fin AS (
      SELECT l, b FROM st WHERE rn = (SELECT max(rn) FROM ser)
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ser)
    SELECT nn.n AS n_days,
           CAST(f.l AS BIGINT) AS level_milli,
           CAST(f.b AS BIGINT) AS trend_milli,
           CAST((f.l + 1 * f.b) // 1000 AS BIGINT)  AS forecast_1d,
           CAST((f.l + 7 * f.b) // 1000 AS BIGINT)  AS forecast_7d,
           CAST((f.l + 30 * f.b) // 1000 AS BIGINT) AS forecast_30d
    FROM fin f CROSS JOIN nn
    """,
    doc=(
        "Holt's linear-trend exponential smoothing over the dense "
        "daily count series (alpha=.2, beta=.1 in exact milli "
        "integers): level/trend state plus 1/7/30-day-ahead forecasts "
        "— the capacity-planning complement to the EWMA detector "
        "(which has no trend term). The sequential recurrence is a "
        "LEFT-TO-RIGHT integer fold: Spark runs it as one "
        "struct-accumulator aggregate over the day-sorted array, the "
        "oracle replays it with a RECURSIVE CTE (the udf_token_bucket "
        "discipline) — bit-identical state at every step."
    ),
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Holt smoothing: fold in Spark, recursive replay in SQL.

    Scale notes (100 TB): one fact rollup to |days| rows; the fold
    runs inside a single projection over one collected bounded array
    (the per-series state is inherently sequential — the parallel
    part is the rollup, which is where the data is). For many series,
    the same fold runs per group under groupBy(collect_list)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx").alias("i"), F.col("x").alias("x")))
        ).alias("a")
    )
    # seed consumes x_1 (and peeks x_2 for the initial trend); the
    # recurrence then folds x_2..x_T — slice is 1-based, so it starts
    # at element 2, mirroring the oracle's first recursive step rn=2
    fold = (
        "aggregate(slice(a, 2, size(a) - 1),"
        " named_struct('l', a[0].x * 1000L,"
        "              'b', (a[1].x - a[0].x) * 1000L),"
        " (s, e) -> named_struct("
        "   'l', (200L * e.x * 1000L + 800L * (s.l + s.b)) div 1000L,"
        "   'b', (100L * ((200L * e.x * 1000L + 800L * (s.l + s.b))"
        "        div 1000L - s.l) + 900L * s.b) div 1000L))"
    )
    st = arr.select(F.expr(fold).alias("s"), F.size("a").cast("bigint").alias("n"))
    return st.select(
        F.col("n").alias("n_days"),
        F.expr("s.l").cast("bigint").alias("level_milli"),
        F.expr("s.b").cast("bigint").alias("trend_milli"),
        F.expr("(s.l + 1 * s.b) div 1000").cast("bigint").alias("forecast_1d"),
        F.expr("(s.l + 7 * s.b) div 1000").cast("bigint").alias("forecast_7d"),
        F.expr("(s.l + 30 * s.b) div 1000").cast("bigint").alias("forecast_30d"),
    )


# ---------------------------------------------------------------------------
# Deseasonalized robust anomaly: hour-of-day baseline + MAD residuals
# ---------------------------------------------------------------------------

@register(
    "events_seasonal_anomaly",
    """
    WITH c AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(hour(ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM c),
    hours AS (SELECT CAST(unnest(range(0, 24)) AS INT) AS hr),
    dense AS (
      SELECT d.day, h.hr, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      FROM days d CROSS JOIN hours h
      LEFT JOIN c ON c.day = d.day AND c.hr = h.hr
    ),
    med AS (
      SELECT hr,
             arr[CAST((n + 1) // 2 AS INT)]
               + arr[CAST(n // 2 + 1 AS INT)] AS med2
      FROM (SELECT hr, list_sort(list(cnt)) AS arr,
                   CAST(count(*) AS BIGINT) AS n
            FROM dense GROUP BY 1) t
    ),
    res AS (
      SELECT d.day, d.hr, d.cnt, m.med2, 2 * d.cnt - m.med2 AS res2
      FROM dense d JOIN med m ON d.hr = m.hr
    ),
    mad AS (
      SELECT hr,
             brr[CAST((n + 1) // 2 AS INT)]
               + brr[CAST(n // 2 + 1 AS INT)] AS mad4
      FROM (SELECT hr, list_sort(list(abs(res2))) AS brr,
                   CAST(count(*) AS BIGINT) AS n
            FROM res GROUP BY 1) t
    )
    SELECT r.day, CAST(r.hr AS BIGINT) AS hour, r.cnt,
           CAST(r.med2 AS BIGINT) AS med_x2,
           CAST(m.mad4 AS BIGINT) AS mad_x4,
           CAST(2000 * r.res2 // m.mad4 AS BIGINT) AS z_milli
    FROM res r JOIN mad m ON r.hr = m.hr
    WHERE m.mad4 > 0
    ORDER BY abs(CAST(2000 * r.res2 // m.mad4 AS BIGINT)) DESC, r.day, r.hr
    LIMIT 10
    """,
    doc=(
        "Deseasonalized robust anomaly detection: hourly event counts "
        "on a dense (day x hour-of-day) grid, baselined by the exact "
        "per-hour median across days and scored by residual/MAD — the "
        "seasonal-profile variant of the plain MAD detector (a 2am "
        "spike is anomalous at 2am's own baseline, not the global "
        "one). Medians are sums of the two middle order statistics "
        "(x2/x4 integer scaling, no .5 doubles), robust z in exact "
        "truncated milli."
    ),
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline + MAD residual ranking.

    Scale notes (100 TB): the fact table reduces to |days|x24 cells in
    one hash aggregation; everything after operates on that bounded
    grid (lazily checkpointed so the days-distinct / median / MAD
    branches don't re-run the fact scan — ReuseExchange never fires
    across branches). Per-hour medians via sorted collect_list are
    |days|-element arrays, 24 groups; at extreme day counts switch to
    the two-order-statistics window form (rn in (r1, r2)) which never
    materializes the array."""
    e = load_table(spark, sf_dir, "events")
    c = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .groupBy("day", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    days = c.select("day").distinct()
    hours = spark.range(24).select(F.col("id").cast("int").alias("hr"))
    dense = (
        days.crossJoin(F.broadcast(hours))
        .join(c, ["day", "hr"], "left")
        .select(
            "day", "hr", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
        .localCheckpoint(eager=False)
    )
    mid = (
        "arr[CAST((n + 1) div 2 AS INT) - 1]"
        " + arr[CAST(n div 2 + 1 AS INT) - 1]"
    )
    med = dense.groupBy("hr").agg(
        F.sort_array(F.collect_list("cnt")).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select("hr", F.expr(mid).alias("med2"))
    res = (
        dense.join(F.broadcast(med), "hr")
        .select(
            "day", "hr", "cnt", "med2",
            F.expr("2 * cnt - med2").alias("res2"),
        )
        .localCheckpoint(eager=False)
    )
    mad = res.groupBy("hr").agg(
        F.sort_array(F.collect_list(F.abs("res2"))).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select("hr", F.expr(mid).alias("mad4"))
    z = "CAST(2000 * res2 div mad4 AS BIGINT)"
    return (
        res.join(F.broadcast(mad), "hr")
        .filter(F.col("mad4") > 0)
        .select(
            "day",
            F.col("hr").cast("bigint").alias("hour"),
            "cnt",
            F.col("med2").cast("bigint").alias("med_x2"),
            F.col("mad4").cast("bigint").alias("mad_x4"),
            F.expr(z).alias("z_milli"),
        )
        .orderBy(F.abs(F.col("z_milli")).desc(), F.asc("day"), F.asc("hour"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Trimmed mean: robust location without the array (order-stat windows)
# ---------------------------------------------------------------------------

@register(
    "agg_trimmed_mean",
    """
    WITH q AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM q
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(n) // 10 AS BIGINT) AS k,
           CAST(sum(cents) * 1000 // max(n) AS BIGINT) AS mean_milli,
           CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN cents ELSE 0 END) * 1000
                // (max(n) - 2 * (max(n) // 10)) AS BIGINT)
             AS trimmed_milli
    FROM r GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "10% trimmed mean of event value per type — the robust "
        "location estimate that survives the heavy tails plain AVG "
        "chases. Values quantized to integer cents; trimming is "
        "POSITIONAL via a deterministic (value, id) row_number, so "
        "both engines drop exactly the same rows and the conditional "
        "sum is exact BIGINT (milli-cents output)."
    ),
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 10% trimmed mean via order-stat windows.

    Scale notes (100 TB): no sorted arrays are materialized — one
    window pass partitioned by type assigns positions (each partition
    sorts distributed within its group), one hash aggregation computes
    the conditional sum. At extreme per-group cardinalities the
    row_number window is the two-level-rank candidate, but unlike a
    GLOBAL rank it is already partitioned by the group key — it scales
    with the widest single group, not the table."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.asc("cents"), F.asc("event_id")
    )
    wc = Window.partitionBy("event_type")
    r = q.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.expr("CAST(max(n) div 10 AS BIGINT)").alias("k"),
            F.expr("CAST(sum(cents) * 1000 div max(n) AS BIGINT)").alias(
                "mean_milli"
            ),
            F.expr(
                "CAST(sum(CASE WHEN rn > n div 10 AND rn <= n - n div 10"
                " THEN cents ELSE 0 END) * 1000"
                " div (max(n) - 2 * (max(n) div 10)) AS BIGINT)"
            ).alias("trimmed_milli"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Seasonality strength: variance explained by the hour-of-day profile
# ---------------------------------------------------------------------------

@register(
    "events_seasonality_strength",
    """
    WITH c AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(hour(ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM c),
    hours AS (SELECT CAST(unnest(range(0, 24)) AS INT) AS hr),
    dense AS (
      SELECT d.day, h.hr, CAST(2 * coalesce(c.cnt, 0) AS BIGINT) AS x
      FROM days d CROSS JOIN hours h
      LEFT JOIN c ON c.day = d.day AND c.hr = h.hr
    ),
    med AS (
      SELECT hr,
             arr[CAST((n + 1) // 2 AS INT)]
               + arr[CAST(n // 2 + 1 AS INT)] AS med2
      FROM (SELECT hr, list_sort(list(x // 2)) AS arr,
                   CAST(count(*) AS BIGINT) AS n
            FROM dense GROUP BY 1) t
    ),
    r AS (
      SELECT d.x, d.x - m.med2 AS res
      FROM dense d JOIN med m ON d.hr = m.hr
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(res) AS BIGINT) AS sr,
             CAST(sum(res * res) AS BIGINT) AS srr
      FROM r
    )
    SELECT n AS n_cells,
           CAST(n * sxx - sx * sx AS BIGINT) AS var_total_num,
           CAST(n * srr - sr * sr AS BIGINT) AS var_resid_num,
           CAST(((n * sxx - sx * sx) - (n * srr - sr * sr)) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS strength_ppm
    FROM s
    """,
    doc=(
        "Seasonality STRENGTH: share of hourly-count variance "
        "explained by the hour-of-day median profile, 1 - "
        "var(residual)/var(total) in exact ppm — the companion "
        "statistic to events_seasonal_anomaly that says whether the "
        "seasonal baseline is worth deseasonalizing against at all. "
        "Counts x2-scaled so the median baseline stays integer; both "
        "variances as exact n*sum(x^2)-sum(x)^2 numerators over the "
        "same n, so the ratio needs one final division."
    ),
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained by the hour-of-day profile (exact ppm).

    Scale notes (100 TB): identical reduction shape to
    events_seasonal_anomaly — fact to |days|x24 cells in one hash agg,
    bounded-grid work after (checkpointed against branch re-scans).
    The x2-scaled squared sums bound at cells*(2*count)^2 — downscale
    counts to kilo-events once per-cell counts approach 1e9."""
    e = load_table(spark, sf_dir, "events")
    c = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .groupBy("day", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    days = c.select("day").distinct()
    hours = spark.range(24).select(F.col("id").cast("int").alias("hr"))
    dense = (
        days.crossJoin(F.broadcast(hours))
        .join(c, ["day", "hr"], "left")
        .select(
            "day",
            "hr",
            (2 * F.coalesce("cnt", F.lit(0))).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    mid = (
        "arr[CAST((n + 1) div 2 AS INT) - 1]"
        " + arr[CAST(n div 2 + 1 AS INT) - 1]"
    )
    med = dense.groupBy("hr").agg(
        F.sort_array(F.collect_list(F.expr("x div 2"))).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select("hr", F.expr(mid).alias("med2"))
    r = dense.join(F.broadcast(med), "hr").select(
        "x", F.expr("x - med2").alias("res")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum("res").cast("bigint").alias("sr"),
        F.sum(F.expr("res * res")).cast("bigint").alias("srr"),
    )
    return s.select(
        F.col("n").alias("n_cells"),
        F.expr("CAST(n * sxx - sx * sx AS BIGINT)").alias("var_total_num"),
        F.expr("CAST(n * srr - sr * sr AS BIGINT)").alias("var_resid_num"),
        F.expr(
            "CAST(((n * sxx - sx * sx) - (n * srr - sr * sr)) * 1000000"
            " div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("strength_ppm"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day periodogram: DFT power at the 24/12/8/6-hour harmonics
# ---------------------------------------------------------------------------

#: micro-scaled trig tables generated ONCE in Python and embedded as the
#: IDENTICAL integer literals in both engines — no runtime cos/sin, so the
#: whole statistic is exact BIGINT arithmetic end to end.
_PERIOD_KS = (1, 2, 3, 4)


def _trig_micro() -> tuple[list[list[int]], list[list[int]]]:
    import math

    cos_t, sin_t = [], []
    for k in _PERIOD_KS:
        cos_t.append(
            [round(math.cos(2 * math.pi * k * h / 24) * 1_000_000) for h in range(24)]
        )
        sin_t.append(
            [round(math.sin(2 * math.pi * k * h / 24) * 1_000_000) for h in range(24)]
        )
    return cos_t, sin_t


_COS_T, _SIN_T = _trig_micro()

#: deterministic double share: one correctly-rounded division of exact
#: BIGINTs — overflow-free at any scale, identical in both engines.
_PERIOD_SHARE = (
    "CAST(floor(CAST(power AS DOUBLE) / CAST(power_total AS DOUBLE)"
    " * 1000000) AS BIGINT)"
)


def _period_oracle() -> str:
    cos_lit = "[" + ", ".join("[" + ", ".join(map(str, r)) + "]" for r in _COS_T) + "]"
    sin_lit = "[" + ", ".join("[" + ", ".join(map(str, r)) + "]" for r in _SIN_T) + "]"
    ks = ", ".join(f"({i + 1}, {k})" for i, k in enumerate(_PERIOD_KS))
    return f"""
    WITH hourly AS (
      SELECT CAST(hour(ts) AS INT) AS hr, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hourly),
    centered AS (
      SELECT hr, 24 * c - n AS d FROM hourly, tot
    ),
    harm(ki, k) AS (VALUES {ks}),
    sums AS (
      SELECT k,
             CAST(sum(d * ({cos_lit})[ki][hr + 1]) AS BIGINT) AS a,
             CAST(sum(d * ({sin_lit})[ki][hr + 1]) AS BIGINT) AS b
      FROM centered CROSS JOIN harm GROUP BY k
    ),
    pw AS (
      SELECT k, (a // 1000000) * (a // 1000000)
                + (b // 1000000) * (b // 1000000) AS power
      FROM sums
    )
    SELECT CAST(k AS BIGINT) AS harmonic_k,
           CAST(24 // k AS BIGINT) AS period_hours,
           CAST(power AS BIGINT) AS power,
           {_PERIOD_SHARE} AS power_share_ppm
    FROM (SELECT k, power, sum(power) OVER () AS power_total FROM pw) t
    """


@register(
    "events_periodogram",
    _period_oracle(),
    doc=(
        "Hour-of-day periodogram: DFT power of the mean-centered "
        "hourly event-count profile at the 24/12/8/6-hour harmonics — "
        "the spectral sibling of the seasonality-strength ratio (which "
        "harmonic carries the cycle, not just how much variance the "
        "profile explains). Trig tables are micro-scaled integer "
        "LITERALS generated once and embedded identically in both "
        "engines, centering is exact (24*c - n), so every sum is "
        "order-free BIGINT; the share is one correctly-rounded double "
        "division — overflow-free at any corpus size."
    ),
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power at fixed harmonics over the hourly profile.

    Scale notes (100 TB): one hash aggregation to 24 rows, then a
    4x24-term integer projection — everything past the first aggregate
    is constant-size regardless of corpus. The trig tables ride in the
    plan as literals (no per-row transcendentals, no UDF)."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.hour("ts").cast("int").alias("hr")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = hourly.agg(F.sum("c").cast("bigint").alias("n"))
    centered = hourly.crossJoin(F.broadcast(tot)).select(
        "hr", F.expr("24 * c - n").alias("d")
    )
    cos_lit = (
        "array(" + ", ".join("array(" + ", ".join(map(str, r)) + ")" for r in _COS_T) + ")"
    )
    sin_lit = (
        "array(" + ", ".join("array(" + ", ".join(map(str, r)) + ")" for r in _SIN_T) + ")"
    )
    harm = e.sparkSession.createDataFrame(
        [(i + 1, k) for i, k in enumerate(_PERIOD_KS)], "ki INT, k INT"
    )
    sums = (
        centered.crossJoin(F.broadcast(harm))
        .groupBy("k")
        .agg(
            F.sum(F.expr(f"d * element_at(element_at({cos_lit}, ki), hr + 1)"))
            .cast("bigint")
            .alias("a"),
            F.sum(F.expr(f"d * element_at(element_at({sin_lit}, ki), hr + 1)"))
            .cast("bigint")
            .alias("b"),
        )
    )
    pw = sums.select(
        "k",
        F.expr(
            "(a div 1000000) * (a div 1000000)"
            " + (b div 1000000) * (b div 1000000)"
        ).alias("power"),
    )
    t = pw.select(
        "k", "power", F.sum("power").over(Window.partitionBy(F.lit(1))).alias("power_total")
    )
    return t.select(
        F.col("k").cast("bigint").alias("harmonic_k"),
        F.expr("24 div k").cast("bigint").alias("period_hours"),
        F.col("power").cast("bigint").alias("power"),
        F.expr(_PERIOD_SHARE).alias("power_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution: unrolled power iteration on the
# event-type transition matrix
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 4

_MARKOV_MAT_SQL = """
      SELECT prev_type, next_type,
             CAST(n * 1000000 // (CAST(sum(n) OVER (PARTITION BY prev_type)
                                       AS BIGINT)) AS BIGINT) AS p_micro
      FROM (
        SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT event_type AS next_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events
        ) seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
      ) pairs
"""


def _markov_oracle() -> str:
    ctes = [
        f"mat AS ({_MARKOV_MAT_SQL})",
        "types AS (SELECT DISTINCT prev_type AS event_type FROM mat)",
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types)",
        "p0 AS (SELECT event_type, CAST(1000000 // nt.k AS BIGINT) AS pi"
        " FROM types, nt)",
    ]
    prev = "p0"
    for i in range(1, _MARKOV_ITERS + 1):
        ctes.append(
            f"""p{i} AS (
              SELECT m.next_type AS event_type,
                     CAST(sum(p.pi * m.p_micro) // 1000000 AS BIGINT) AS pi
              FROM mat m JOIN {prev} p ON m.prev_type = p.event_type
              GROUP BY 1
            )"""
        )
        prev = f"p{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT f.event_type, f.pi AS pi_micro,
               CAST(f.pi - z.pi AS BIGINT) AS shift_vs_uniform_micro
        FROM {prev} f JOIN p0 z ON f.event_type = z.event_type
        """
    )


@register(
    "events_markov_stationary",
    _markov_oracle(),
    doc=(
        "Stationary behavior distribution: four unrolled power-"
        "iteration steps of pi' = pi P over the row-normalized event-"
        "type transition matrix (exact micro integers; each step sums "
        "exact BIGINT products then floor-divides once, so the vector "
        "is engine-exact). The long-run 'where do sessions spend their "
        "time' statistic that complements the one-step transition "
        "matrix; shift_vs_uniform exposes which states accumulate "
        "mass."
    ),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pi P^4 in exact micro units over the transition matrix.

    Scale notes (100 TB): the corpus cost is the same one user-keyed
    lag shuffle the transition matrix itself needs; every iteration is
    a join+aggregate over the |types|^2-bounded matrix (25 cells here
    — broadcast-joined against the |types|-row vector). Iterations are
    matrix-grain, so 4 or 40 steps cost corpus-nothing."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    mat = pairs.select(
        "prev_type",
        "next_type",
        F.expr(
            "CAST(n * 1000000 div (CAST(sum(n) OVER (PARTITION BY prev_type)"
            " AS BIGINT)) AS BIGINT)"
        ).alias("p_micro"),
    ).localCheckpoint(eager=False)
    types = mat.select(F.col("prev_type").alias("event_type")).distinct()
    nt = types.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    p0 = types.crossJoin(F.broadcast(nt)).select(
        "event_type", F.expr("CAST(1000000 div k AS BIGINT)").alias("pi")
    )
    pi = p0
    for _ in range(_MARKOV_ITERS):
        pi = (
            mat.join(
                F.broadcast(pi.withColumnRenamed("event_type", "prev_type")),
                "prev_type",
            )
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(
                F.expr("CAST(sum(pi * p_micro) div 1000000 AS BIGINT)").alias(
                    "pi"
                )
            )
        )
    return pi.join(
        p0.withColumnRenamed("pi", "pi0"), "event_type"
    ).select(
        "event_type",
        F.col("pi").alias("pi_micro"),
        F.expr("CAST(pi - pi0 AS BIGINT)").alias("shift_vs_uniform_micro"),
    )


# ---------------------------------------------------------------------------
# Audience overlap: Jaccard / containment between event-type audiences
# ---------------------------------------------------------------------------


@register(
    "events_audience_overlap",
    """
    WITH aud AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    deg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS d FROM aud GROUP BY 1
    ),
    com AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS common_users
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, common_users,
           CAST(common_users * 1000000
                // (da.d + db.d - common_users) AS BIGINT) AS jaccard_ppm,
           CAST(common_users * 1000000
                // least(da.d, db.d) AS BIGINT) AS containment_ppm
    FROM com JOIN deg da ON com.type_a = da.event_type
             JOIN deg db ON com.type_b = db.event_type
    """,
    doc=(
        "Audience overlap between event types: Jaccard and containment "
        "of distinct-user sets for every type pair — the segmentation "
        "primitive behind 'do purchasers also view' questions and "
        "behavioral cohort design. Common users come from an equi-join "
        "on user_id (never an all-pairs product); ratios are exact "
        "integer ppm."
    ),
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type audience Jaccard + containment.

    Scale notes (100 TB): the distinct audience table is checkpointed
    once for its three consumers (degree table + both self-join
    sides); pair generation is keyed on user_id, so cost is sum of
    per-user type-set size squared — bounded by |types|² per user.
    Output is |types|² rows."""
    e = load_table(spark, sf_dir, "events")
    aud = (
        e.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    )
    deg = aud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("u2"))
    com = (
        a.join(b, (F.col("user_id") == F.col("u2")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_users"))
    )
    return (
        com.join(
            F.broadcast(deg.select(F.col("event_type"), F.col("d").alias("da"))),
            F.col("type_a") == F.col("event_type"),
        )
        .drop("event_type")
        .join(
            F.broadcast(deg.select(F.col("event_type"), F.col("d").alias("db"))),
            F.col("type_b") == F.col("event_type"),
        )
        .drop("event_type")
        .select(
            "type_a",
            "type_b",
            "common_users",
            F.expr(
                "CAST(common_users * 1000000 div (da + db - common_users)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                "CAST(common_users * 1000000 div least(da, db) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


# Position-based (U-shaped) attribution: 40/20/40 credit per journey
# ---------------------------------------------------------------------------

#: integer ppm credit for a touch at position rn of k:
#: k=1 -> all; k=2 -> half each; else 40% ends, middles split 20%.
_POS_CREDIT = (
    "CASE WHEN k = 1 THEN 1000000"
    " WHEN k = 2 THEN 500000"
    " WHEN rn = 1 OR rn = k THEN 400000"
    " ELSE 200000 {div} (k - 2) END"
)


@register(
    "events_attribution_position",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) + 1 AS BIGINT) AS j,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id
             ) AS BIGINT) AS n_purch
      FROM events
    ),
    pos AS (
      SELECT event_type, j, n_purch,
             CAST(count(*) FILTER (WHERE event_type <> 'purchase') OVER (
               PARTITION BY user_id, j ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS rn,
             CAST(count(*) FILTER (WHERE event_type <> 'purchase') OVER (
               PARTITION BY user_id, j
             ) AS BIGINT) AS k
      FROM seq
    ),
    credited AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'direct'
                  ELSE event_type END AS channel,
             CAST({_POS_CREDIT.format(div="//")} AS BIGINT) AS credit
      FROM pos
      WHERE (event_type <> 'purchase' AND j <= n_purch)
         OR (event_type = 'purchase' AND k = 0)
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(CASE WHEN channel = 'direct' THEN 1000000
                         ELSE credit END) // 1000 AS BIGINT)
             AS attributed_milli
    FROM credited GROUP BY 1
    """,
    doc=(
        "Position-based (U-shaped) multi-touch attribution: every "
        "purchase defines a journey of the touches since the previous "
        "purchase; the first and last touch earn 40% each and the "
        "middles split 20% (single-touch journeys take all, two-touch "
        "split halves; touchless purchases credit 'direct'). Credit is "
        "exact integer ppm - attributed purchase mass per channel in "
        "milli units hash-matches across engines. The credit-model "
        "sibling of last-touch events_attribution."
    ),
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """40/20/40 journey credit per channel, exact integer ppm.

    Scale notes (100 TB): ONE pass — the same user-keyed sort the
    last-touch model uses carries journey ids (running purchase count),
    touch positions and journey sizes (conditional counts over the
    (user, journey) frame), and the credit projection; no joins, no
    second scan, output |channels| rows. Touches in a trailing journey
    with no purchase are excluded by j <= n_purch; a purchase whose
    journey has zero touches credits 'direct' in the same projection."""
    e = load_table(spark, sf_dir, "events")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wu = Window.partitionBy("user_id")
    is_p = F.col("event_type") == "purchase"
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.count(F.when(is_p, 1)).over(wp) + 1).cast("bigint").alias("j"),
        F.count(F.when(is_p, 1)).over(wu).cast("bigint").alias("n_purch"),
    )
    wj = Window.partitionBy("user_id", "j")
    wj_run = wj.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    not_p = F.col("event_type") != "purchase"
    pos = seq.select(
        "event_type",
        "j",
        "n_purch",
        F.count(F.when(not_p, 1)).over(wj_run).cast("bigint").alias("rn"),
        F.count(F.when(not_p, 1)).over(wj).cast("bigint").alias("k"),
    )
    credited = pos.filter(
        (not_p & (F.col("j") <= F.col("n_purch")))
        | (is_p & (F.col("k") == 0))
    ).select(
        F.when(is_p, F.lit("direct")).otherwise(F.col("event_type")).alias(
            "channel"
        ),
        F.expr("CAST(" + _POS_CREDIT.format(div="div") + " AS BIGINT)").alias(
            "credit"
        ),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.expr(
            "CAST(sum(CASE WHEN channel = 'direct' THEN 1000000"
            " ELSE credit END) div 1000 AS BIGINT)"
        ).alias("attributed_milli"),
    )


# ---------------------------------------------------------------------------
# Velocity burst detection: max events in any rolling 60-minute window
# ---------------------------------------------------------------------------

_BURST_WINDOW_S = 3600
_BURST_TOP = 10


@register(
    "events_velocity_burst",
    f"""
    WITH sec AS (
      SELECT user_id,
             CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS es
      FROM events
    ),
    rolled AS (
      SELECT user_id,
             CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY es
               RANGE BETWEEN {_BURST_WINDOW_S - 1} PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS burst
      FROM sec
    ),
    per_user AS (
      SELECT user_id, CAST(max(burst) AS BIGINT) AS max_burst,
             CAST(count(*) AS BIGINT) AS n_events
      FROM rolled GROUP BY 1
    )
    SELECT user_id, max_burst, n_events, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY max_burst DESC, user_id) AS rk
      FROM per_user
    ) t WHERE rk <= {_BURST_TOP}
    """,
    doc=(
        "Velocity-burst audit: each user's maximum event count inside "
        "ANY rolling 60-minute window (a RANGE frame over epoch "
        "seconds — the frame slides per event, no fixed buckets to "
        "straddle), top-10 burstiest users. The rate-limit / abuse "
        "screen that fixed tumbling counts systematically undercount "
        "when a burst crosses a bucket boundary. Pure integer "
        "counting, engine-exact."
    ),
)
def events_velocity_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max rolling-hour event count per user, top-10.

    Scale notes (100 TB): one shuffle on user_id; the RANGE frame is
    evaluated in a single pass over each user's time-sorted events
    (state = the sliding window's row span); per-user maxima reduce to
    |users| rows and the top-10 is orderBy+limit →
    TakeOrderedAndProject (no global sort)."""
    e = load_table(spark, sf_dir, "events")
    sec = e.select(
        "user_id",
        F.expr(
            "CAST(datediff(SECOND, TIMESTAMP '1970-01-01 00:00:00', ts)"
            " AS BIGINT)"
        ).alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-(_BURST_WINDOW_S - 1), Window.currentRow)
    )
    rolled = sec.select(
        "user_id", F.count(F.lit(1)).over(w).cast("bigint").alias("burst")
    )
    per_user = rolled.groupBy("user_id").agg(
        F.max("burst").cast("bigint").alias("max_burst"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    top = per_user.orderBy(F.desc("max_burst"), F.asc("user_id")).limit(
        _BURST_TOP
    )
    wr = Window.orderBy(F.desc("max_burst"), F.asc("user_id"))
    return top.withColumn("rank", F.row_number().over(wr).cast("bigint"))


# ---------------------------------------------------------------------------
# Markov conditional entropy / entropy rate of the event-type chain
# ---------------------------------------------------------------------------


@register(
    "events_markov_entropy_rate",
    """
    WITH seq AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    cells AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    st AS (
      SELECT prev_type,
             CAST(sum(c) AS BIGINT) AS c_i,
             CAST(count(*) AS BIGINT) AS n_next_states,
             CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)
               - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                                   AS BIGINT)) // sum(c) AS BIGINT)
               AS h_cond_micro
      FROM cells GROUP BY 1
    )
    SELECT prev_type,
           c_i AS n_transitions,
           n_next_states,
           h_cond_micro,
           CAST(sum(c_i * h_cond_micro) OVER ()
                // sum(c_i) OVER () AS BIGINT) AS entropy_rate_micro
    FROM st
    """,
    doc=(
        "Conditional entropy H(next | prev) per source state of the "
        "event-type Markov chain, plus the chain's entropy rate "
        "(stationary-weighted by empirical state mass) — the "
        "predictability scalar behind session-modeling features: low "
        "rate = scripted/bot traffic, high = exploratory. Uses the "
        "established per-distinct-count floor(ln)*1e6 discipline, so "
        "every downstream op is exact BIGINT."
    ),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy + entropy rate, engine-exact.

    Scale notes (100 TB): one user-keyed lag window (the sessionize
    shuffle), one combining count to the |types|^2-bounded cell table;
    everything after is cell-grain, and the rate is an unpartitioned
    window over |types| rows — bounded domain, not corpus."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    cells = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    st = cells.groupBy("prev_type").agg(
        F.sum("c").cast("bigint").alias("c_i"),
        F.count(F.lit(1)).cast("bigint").alias("n_next_states"),
        F.expr(
            "CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)"
            " - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)"
            " AS BIGINT)) div sum(c) AS BIGINT)"
        ).alias("h_cond_micro"),
    )
    return st.select(
        "prev_type",
        F.col("c_i").alias("n_transitions"),
        "n_next_states",
        "h_cond_micro",
        F.expr(
            "CAST(sum(c_i * h_cond_micro) OVER (PARTITION BY 1)"
            " div sum(c_i) OVER (PARTITION BY 1) AS BIGINT)"
        ).alias("entropy_rate_micro"),
    )


# ---------------------------------------------------------------------------
# A/B sample-ratio-mismatch (SRM) check
# ---------------------------------------------------------------------------


@register(
    "events_ab_srm_check",
    """
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), arms AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
               AS n_arm0
      FROM u
    )
    SELECT n AS n_users,
           n_arm0,
           CAST(n - n_arm0 AS BIGINT) AS n_arm1,
           CAST(((2 * n_arm0 - n) * (2 * n_arm0 - n) // n) * 1000
                + (((2 * n_arm0 - n) * (2 * n_arm0 - n) % n) * 1000) // n
                AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN ((2 * n_arm0 - n) * (2 * n_arm0 - n) // n) * 1000
                          + (((2 * n_arm0 - n) * (2 * n_arm0 - n) % n)
                             * 1000) // n > 3841
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_detected
    FROM arms
    """,
    doc=(
        "Sample-ratio-mismatch guardrail for a 50/50 A/B assignment "
        "(arm = user_id parity): the 1-dof chi-square statistic "
        "reduces exactly to (2*n0 - n)^2 / n, computed as an "
        "overflow-free integer divmod chain in millis and compared to "
        "the 0.05 critical value 3.841. The first check every "
        "experimentation platform runs before trusting a readout."
    ),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square SRM test on the user-parity arm split.

    Scale notes (100 TB): one distinct-user aggregate (map-side
    combinable partial distinct) to a single row; the statistic is a
    scalar projection. Nothing here grows with events volume beyond
    the distinct."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.expr("CASE WHEN user_id % 2 = 0 THEN 1 END"))
        .cast("bigint")
        .alias("n_arm0"),
    )
    chi = (
        "((2 * n_arm0 - n) * (2 * n_arm0 - n) div n) * 1000"
        " + (((2 * n_arm0 - n) * (2 * n_arm0 - n) % n) * 1000) div n"
    )
    return arms.select(
        F.col("n").alias("n_users"),
        "n_arm0",
        F.expr("CAST(n - n_arm0 AS BIGINT)").alias("n_arm1"),
        F.expr(f"CAST({chi} AS BIGINT)").alias("chi2_milli"),
        F.expr(
            f"CAST(CASE WHEN {chi} > 3841 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Hysteresis burst detection over the dense daily series
# ---------------------------------------------------------------------------


@register(
    "events_burst_detect",
    """
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), mm AS (
      SELECT CAST(sum(x) * 1000 // count(*) AS BIGINT) AS mean_milli,
             CAST(count(*) AS BIGINT) AS n_days
      FROM ser
    ), st AS (
      SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS inb,
             CAST(0 AS BIGINT) AS nb, CAST(0 AS BIGINT) AS cur,
             CAST(0 AS BIGINT) AS mx, CAST(0 AS BIGINT) AS bd
      UNION ALL
      SELECT d.rn,
             CASE WHEN (s.inb = 0 AND d.x * 1000 >= 2 * m.mean_milli)
                    OR (s.inb = 1 AND d.x * 1000 >= m.mean_milli)
                  THEN 1 ELSE 0 END,
             s.nb + CASE WHEN s.inb = 0 AND d.x * 1000 >= 2 * m.mean_milli
                         THEN 1 ELSE 0 END,
             CASE WHEN s.inb = 0 AND d.x * 1000 >= 2 * m.mean_milli THEN 1
                  WHEN s.inb = 1 AND d.x * 1000 >= m.mean_milli
                  THEN s.cur + 1 ELSE 0 END,
             greatest(s.mx,
               CASE WHEN s.inb = 0 AND d.x * 1000 >= 2 * m.mean_milli THEN 1
                    WHEN s.inb = 1 AND d.x * 1000 >= m.mean_milli
                    THEN s.cur + 1 ELSE 0 END),
             s.bd + CASE WHEN (s.inb = 0 AND d.x * 1000 >= 2 * m.mean_milli)
                           OR (s.inb = 1 AND d.x * 1000 >= m.mean_milli)
                         THEN 1 ELSE 0 END
      FROM st s JOIN ser d ON d.rn = s.rn + 1 CROSS JOIN mm m
    )
    SELECT m.n_days, m.mean_milli,
           CAST(f.nb AS BIGINT) AS n_bursts,
           CAST(f.bd AS BIGINT) AS burst_days,
           CAST(f.mx AS BIGINT) AS max_burst_len
    FROM (SELECT * FROM st WHERE rn = (SELECT max(rn) FROM st)) f
    CROSS JOIN mm m
    """,
    doc=(
        "Hysteresis burst detection on the dense daily count series: "
        "enter a burst when the day's volume clears 2x the corpus "
        "daily mean, stay in it while volume holds above 1x (the "
        "hysteresis band kills the flip-flopping a single threshold "
        "produces), report burst count / total burst days / longest "
        "burst. All-integer sequential state — Spark folds a "
        "struct accumulator over the day-sorted array, the oracle "
        "replays the identical recurrence as a RECURSIVE CTE."
    ),
)
def events_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold burst state machine, engine-exact integers.

    Scale notes (100 TB): the fact reduces to |days| rows (one
    combining aggregate); the inherently-sequential fold runs inside
    ONE projection over one bounded collected array — the parallel
    work is the rollup, which is where the bytes are. Per-series
    variants group the same fold under groupBy(collect_list)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx").alias("i"), F.col("x").alias("x")))
        ).alias("a")
    )
    # stage 1: the array + the data-derived thresholds (same integer
    # formula as the oracle's mm CTE); stage 2: the fold referencing
    # them as plain columns (HOF expressions re-inline per reference —
    # keep exactly one fold expression).
    staged = arr.select(
        "a",
        F.expr(
            "CAST(aggregate(a, 0L, (acc, s) -> acc + s.x) * 1000"
            " div size(a) AS BIGINT)"
        ).alias("mean_milli"),
        F.size("a").cast("bigint").alias("n_days"),
    )
    enter = "(s.inb = 0L AND e.x * 1000L >= 2L * mean_milli)"
    cont = "(s.inb = 1L AND e.x * 1000L >= mean_milli)"
    newcur = (
        f"CASE WHEN {enter} THEN 1L WHEN {cont} THEN s.cur + 1L ELSE 0L END"
    )
    fold = (
        "aggregate(a,"
        " named_struct('inb', 0L, 'nb', 0L, 'cur', 0L, 'mx', 0L, 'bd', 0L),"
        " (s, e) -> named_struct("
        f"   'inb', CASE WHEN {enter} OR {cont} THEN 1L ELSE 0L END,"
        f"   'nb', s.nb + CASE WHEN {enter} THEN 1L ELSE 0L END,"
        f"   'cur', {newcur},"
        f"   'mx', greatest(s.mx, {newcur}),"
        f"   'bd', s.bd + CASE WHEN {enter} OR {cont} THEN 1L ELSE 0L END))"
    )
    st = staged.select(
        "n_days", "mean_milli", F.expr(fold).alias("s")
    )
    return st.select(
        "n_days",
        "mean_milli",
        F.expr("s.nb").cast("bigint").alias("n_bursts"),
        F.expr("s.bd").cast("bigint").alias("burst_days"),
        F.expr("s.mx").cast("bigint").alias("max_burst_len"),
    )


# ---------------------------------------------------------------------------
# Grouped Holt forecast: one fold per event_type series
# ---------------------------------------------------------------------------


@register(
    "events_forecast_holt_grouped",
    """
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT event_type AS g,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), grps AS (SELECT DISTINCT g FROM cnt
    ), ser AS (
      SELECT gr.g, s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM grps gr CROSS JOIN spine s
      LEFT JOIN cnt c ON c.g = gr.g AND c.d = s.d0 + s.idx
    ), st AS (
      SELECT sd.g, CAST(1 AS BIGINT) AS rn,
             sd.x1 * 1000 AS l, (sd.x2 - sd.x1) * 1000 AS b
      FROM (SELECT s1.g, s1.x AS x1, s2.x AS x2
            FROM ser s1 JOIN ser s2 ON s1.g = s2.g
            WHERE s1.rn = 1 AND s2.rn = 2) sd
      UNION ALL
      SELECT d.g, d.rn,
             (200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000,
             (100 * ((200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000 - s.l)
              + 900 * s.b) // 1000
      FROM st s JOIN ser d ON d.g = s.g AND d.rn = s.rn + 1
    ), fin AS (
      SELECT g, l, b FROM st WHERE rn = (SELECT max(rn) FROM ser)
    )
    SELECT g AS event_type,
           CAST((SELECT max(rn) FROM ser) AS BIGINT) AS n_days,
           CAST(l AS BIGINT) AS level_milli,
           CAST(b AS BIGINT) AS trend_milli,
           CAST((l + 7 * b) // 1000 AS BIGINT)  AS forecast_7d,
           CAST((l + 30 * b) // 1000 AS BIGINT) AS forecast_30d
    FROM fin
    """,
    doc=(
        "Holt linear-trend smoothing PER EVENT TYPE over a shared "
        "dense day spine — the many-series version of "
        "events_forecast_holt, proving the grouped-fold shape its "
        "docstring promises: groupBy(collect_list) runs one integer "
        "fold per series in parallel, the oracle replays every series "
        "with a single group-keyed RECURSIVE CTE."
    ),
)
def events_forecast_holt_grouped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-series Holt level/trend + forecasts, engine-exact.

    Scale notes (100 TB): the fact reduces to a checkpointed
    (type x day)-bounded count table; the dense spine cross join and
    the folds are all bounded-domain. A million series works the same
    way — the folds parallelize across groups, which is the point."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = (
        ev.groupBy(
            F.col("event_type").alias("g"),
            F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    grps = cnt.select(F.col("g").alias("gg")).distinct()
    ser = (
        grps.crossJoin(F.broadcast(spine))
        .join(
            cnt,
            (F.col("g") == F.col("gg"))
            & (F.col("d") == F.col("d0") + F.col("idx")),
            "left",
        )
        .select(
            F.col("gg").alias("g"),
            F.col("idx").cast("bigint").alias("idx"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    arr = ser.groupBy("g").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx").alias("i"), F.col("x").alias("x")))
        ).alias("a")
    )
    fold = (
        "aggregate(slice(a, 2, size(a) - 1),"
        " named_struct('l', a[0].x * 1000L,"
        "              'b', (a[1].x - a[0].x) * 1000L),"
        " (s, e) -> named_struct("
        "   'l', (200L * e.x * 1000L + 800L * (s.l + s.b)) div 1000L,"
        "   'b', (100L * ((200L * e.x * 1000L + 800L * (s.l + s.b))"
        "        div 1000L - s.l) + 900L * s.b) div 1000L))"
    )
    st = arr.select(
        F.col("g").alias("event_type"),
        F.size("a").cast("bigint").alias("n_days"),
        F.expr(fold).alias("s"),
    )
    return st.select(
        "event_type",
        "n_days",
        F.expr("s.l").cast("bigint").alias("level_milli"),
        F.expr("s.b").cast("bigint").alias("trend_milli"),
        F.expr("(s.l + 7 * s.b) div 1000").cast("bigint").alias("forecast_7d"),
        F.expr("(s.l + 30 * s.b) div 1000").cast("bigint").alias("forecast_30d"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------

_CUPED_MU = "(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE))"
_CUPED_COV = (
    "(CAST(g_sxy AS DOUBLE) / CAST(g_n AS DOUBLE)"
    " - (CAST(g_sx AS DOUBLE) / CAST(g_n AS DOUBLE))"
    " * (CAST(g_sy AS DOUBLE) / CAST(g_n AS DOUBLE)))"
)
_CUPED_VARX = (
    "(CAST(g_sxx AS DOUBLE) / CAST(g_n AS DOUBLE)"
    " - (CAST(g_sx AS DOUBLE) / CAST(g_n AS DOUBLE))"
    " * (CAST(g_sx AS DOUBLE) / CAST(g_n AS DOUBLE)))"
)
_CUPED_VARY = (
    "(CAST(g_syy AS DOUBLE) / CAST(g_n AS DOUBLE)"
    " - (CAST(g_sy AS DOUBLE) / CAST(g_n AS DOUBLE))"
    " * (CAST(g_sy AS DOUBLE) / CAST(g_n AS DOUBLE)))"
)
_CUPED_THETA = f"({_CUPED_COV} / {_CUPED_VARX})"
#: per-arm adjusted mean: mean_y_arm - theta * (mean_x_arm - mean_x_all)
_CUPED_ADJ = (
    f"((CAST(a_sy AS DOUBLE) / CAST(a_n AS DOUBLE))"
    f" - {_CUPED_THETA}"
    f" * ((CAST(a_sx AS DOUBLE) / CAST(a_n AS DOUBLE))"
    f" - (CAST(g_sx AS DOUBLE) / CAST(g_n AS DOUBLE))))"
)
_CUPED_VR = (
    f"(1.0 - ({_CUPED_VARY} - {_CUPED_THETA} * {_CUPED_THETA} * {_CUPED_VARX})"
    f" / {_CUPED_VARY})"
)


@register(
    "events_ab_cuped",
    f"""
    WITH bounds AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ),
    per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(sum(CASE WHEN epoch_us(ts) < mid_us
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= mid_us
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events CROSS JOIN bounds GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS a_n,
             CAST(sum(x) AS BIGINT) AS a_sx,
             CAST(sum(y) AS BIGINT) AS a_sy
      FROM per_user GROUP BY 1
    ),
    gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS g_n,
             CAST(sum(x) AS BIGINT) AS g_sx,
             CAST(sum(y) AS BIGINT) AS g_sy,
             CAST(sum(x * x) AS BIGINT) AS g_sxx,
             CAST(sum(y * y) AS BIGINT) AS g_syy,
             CAST(sum(x * y) AS BIGINT) AS g_sxy
      FROM per_user
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           a_n AS n_users,
           CAST(floor((CAST(a_sy AS DOUBLE) / CAST(a_n AS DOUBLE))
                      * 1000000) AS BIGINT) AS mean_post_micro,
           CAST(floor({_CUPED_ADJ} * 1000000) AS BIGINT)
             AS mean_adjusted_micro,
           CAST(floor({_CUPED_THETA} * 1000000) AS BIGINT) AS theta_micro,
           CAST(floor({_CUPED_VR} * 1000000) AS BIGINT)
             AS variance_reduction_ppm
    FROM arms CROSS JOIN gstats
    """,
    doc=(
        "CUPED variance-reduced A/B readout: per-user pre-period spend "
        "(first half of the time range) is the covariate, theta = "
        "cov(pre, post)/var(pre) from pooled exact integer sums, and "
        "each arm's adjusted mean needs NO second pass — it folds to "
        "mean_y_arm - theta*(mean_x_arm - mean_x_all). Reports the "
        "variance-reduction share, i.e. how much experiment runtime "
        "CUPED buys. All moments via IEEE-identical double text over "
        "exact integer sums, floored to micro."
    ),
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-reduced experiment readout from one user-grain pass.

    Scale notes (100 TB): one fact scan to user-grain sums, then one
    tiny grouped aggregate per arm plus a one-row global moment
    reduce (broadcast back) — the covariate adjustment is algebra on
    aggregates, never a per-user second pass."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    us = f"timestampdiff(MICROSECOND, {epoch}, ts)"
    bounds = ev.agg(
        F.expr(f"(min({us}) + max({us})) div 2").alias("mid_us")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", F.expr("user_id % 2").alias("arm"))
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN {us} < mid_us"
                " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"CAST(sum(CASE WHEN {us} >= mid_us"
                " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("a_n"),
        F.sum("x").cast("bigint").alias("a_sx"),
        F.sum("y").cast("bigint").alias("a_sy"),
    )
    glob = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("g_n"),
        F.sum("x").cast("bigint").alias("g_sx"),
        F.sum("y").cast("bigint").alias("g_sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("g_sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("g_syy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("g_sxy"),
    )
    return arms.crossJoin(F.broadcast(glob)).select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("a_n").alias("n_users"),
        F.expr(
            "CAST(floor((CAST(a_sy AS DOUBLE) / CAST(a_n AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("mean_post_micro"),
        F.expr(f"CAST(floor({_CUPED_ADJ} * 1000000) AS BIGINT)").alias(
            "mean_adjusted_micro"
        ),
        F.expr(f"CAST(floor({_CUPED_THETA} * 1000000) AS BIGINT)").alias(
            "theta_micro"
        ),
        F.expr(f"CAST(floor({_CUPED_VR} * 1000000) AS BIGINT)").alias(
            "variance_reduction_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (period 7, daily counts)
# ---------------------------------------------------------------------------

#: oracle-side recurrence pieces (alpha=.2, beta=.1, gamma=.3 in exact
#: milli integers). The 7-slot seasonal VECTOR state is carried as
#: explicit columns s0..s6 in the RECURSIVE CTE; the Spark fold carries
#: it as an array field updated with an indexed transform.
_HW_SJ = (
    "CASE (d.rn - 1) % 7 "
    + " ".join(f"WHEN {k} THEN s.s{k}" for k in range(7))
    + " END"
)
_HW_LNEW = f"(200 * (d.x * 1000 - ({_HW_SJ})) + 800 * (s.l + s.b)) // 1000"
_HW_BNEW = f"(100 * (({_HW_LNEW}) - s.l) + 900 * s.b) // 1000"


def _hw_sknew(k: int) -> str:
    return (
        f"CASE WHEN (d.rn - 1) % 7 = {k}"
        f" THEN (300 * (d.x * 1000 - ({_HW_LNEW})) + 700 * s.s{k}) // 1000"
        f" ELSE s.s{k} END"
    )


_HW_SEED_L = "(SELECT sum(x) FROM ser WHERE rn <= 7) * 1000 // 7"
_HW_ORACLE = f"""
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), st AS (
      SELECT CAST(7 AS BIGINT) AS rn,
             {_HW_SEED_L} AS l,
             CAST(0 AS BIGINT) AS b,
             {", ".join(
                 f"(SELECT x FROM ser WHERE rn = {k + 1}) * 1000"
                 f" - ({_HW_SEED_L}) AS s{k}"
                 for k in range(7)
             )}
      UNION ALL
      SELECT d.rn, {_HW_LNEW}, {_HW_BNEW},
             {", ".join(_hw_sknew(k) for k in range(7))}
      FROM st s JOIN ser d ON d.rn = s.rn + 1
    ), nn AS (SELECT CAST(max(rn) AS BIGINT) AS n FROM ser),
    fin AS (SELECT * FROM st WHERE rn = (SELECT n FROM nn))
    SELECT nn.n AS n_days,
           CAST(f.l AS BIGINT) AS level_milli,
           CAST(f.b AS BIGINT) AS trend_milli,
           CAST(f.l + f.b + (CASE nn.n % 7 {" ".join(
               f"WHEN {k} THEN f.s{k}" for k in range(7)
           )} END) AS BIGINT) AS forecast_1d_milli,
           {", ".join(f"CAST(f.s{k} AS BIGINT) AS s{k}_milli"
                      for k in range(7))}
    FROM fin f CROSS JOIN nn
"""


@register(
    "events_forecast_holt_winters",
    _HW_ORACLE,
    doc=(
        "Holt-Winters additive seasonal smoothing (period 7) over the "
        "dense daily series: level + trend + a 7-slot seasonal vector "
        "in exact milli integers (alpha=.2, beta=.1, gamma=.3), "
        "seeded from the first week. The seasonal-aware member of the "
        "forecasting family (EWMA -> Holt -> HW) that the weekday "
        "cycle actually requires. The VECTOR state rides an array "
        "field in Spark's struct fold (indexed transform update) and "
        "explicit s0..s6 columns in the oracle's RECURSIVE CTE — "
        "bit-identical integer state at every step."
    ),
)
def events_forecast_holt_winters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer Holt-Winters: array-state fold vs recursive replay.

    Scale notes (100 TB): identical shape to Holt — one fact rollup
    to |days| rows, one fold in a single projection; the seasonal
    array adds 7 bigints to the accumulator, nothing to the plan."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx").alias("i"), F.col("x").alias("x")))
        ).alias("a")
    )
    staged = arr.select(
        "a",
        F.expr(
            "CAST(aggregate(slice(a, 1, 7), 0L, (acc, s) -> acc + s.x)"
            " * 1000 div 7 AS BIGINT)"
        ).alias("l0"),
        F.size("a").cast("bigint").alias("n_days"),
    )
    sj = "element_at(s.s, CAST(e.i % 7 AS INT) + 1)"
    lnew = f"(200L * (e.x * 1000L - {sj}) + 800L * (s.l + s.b)) div 1000L"
    bnew = f"(100L * (({lnew}) - s.l) + 900L * s.b) div 1000L"
    snew = (
        "transform(s.s, (v, k) -> CASE WHEN k = CAST(e.i % 7 AS INT)"
        f" THEN (300L * (e.x * 1000L - ({lnew})) + 700L * v) div 1000L"
        " ELSE v END)"
    )
    fold = (
        "aggregate(slice(a, 8, size(a) - 7),"
        " named_struct('l', l0, 'b', 0L,"
        "              's', transform(slice(a, 1, 7),"
        "                             e -> e.x * 1000L - l0)),"
        f" (s, e) -> named_struct('l', {lnew}, 'b', {bnew}, 's', {snew}))"
    )
    st = staged.select("n_days", F.expr(fold).alias("s"))
    return st.select(
        "n_days",
        F.expr("s.l").cast("bigint").alias("level_milli"),
        F.expr("s.b").cast("bigint").alias("trend_milli"),
        F.expr(
            "CAST(s.l + s.b + element_at(s.s, CAST(n_days % 7 AS INT) + 1)"
            " AS BIGINT)"
        ).alias("forecast_1d_milli"),
        *[
            F.expr(f"CAST(element_at(s.s, {k + 1}) AS BIGINT)").alias(
                f"s{k}_milli"
            )
            for k in range(7)
        ],
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (SPRT) for conversion A/B
# ---------------------------------------------------------------------------

#: H0 p=0.30 vs H1 p=0.35, alpha=beta=0.05 — per-outcome log-likelihood
#: increments and Wald boundaries as floor-micro integers, computed
#: from IDENTICAL rational-literal ln text in both engines.
_SPRT_L1 = "CAST(floor(ln(0.35 / 0.30) * 1000000) AS BIGINT)"
_SPRT_L0 = "CAST(floor(ln(0.65 / 0.70) * 1000000) AS BIGINT)"
_SPRT_UP = "CAST(floor(ln(19.0) * 1000000) AS BIGINT)"
_SPRT_LO = "CAST(floor(ln(1.0 / 19.0) * 1000000) AS BIGINT)"


@register(
    "events_ab_sprt",
    f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_conv
      FROM u GROUP BY 1
    )
    SELECT CAST(arm AS BIGINT) AS arm, n_users,
           n_conv AS n_converted,
           CAST(n_conv * 1000000 // n_users AS BIGINT) AS conv_ppm,
           CAST(n_conv * {_SPRT_L1} + (n_users - n_conv) * {_SPRT_L0}
                AS BIGINT) AS llr_micro,
           CASE WHEN n_conv * {_SPRT_L1} + (n_users - n_conv) * {_SPRT_L0}
                     >= {_SPRT_UP} THEN 'accept_h1'
                WHEN n_conv * {_SPRT_L1} + (n_users - n_conv) * {_SPRT_L0}
                     <= {_SPRT_LO} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM arms
    """,
    doc=(
        "Wald's sequential probability ratio test on per-arm "
        "conversion (H0 p=.30 vs H1 p=.35, alpha=beta=.05): the "
        "log-likelihood ratio accumulates per user as one of two "
        "integer micro increments, so the test is a pure aggregate — "
        "the early-stopping machinery that lets an experiment platform "
        "call a result mid-flight instead of waiting for fixed n. "
        "Boundaries ln(19), ln(1/19) as floor-micro literals."
    ),
)
def events_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPRT decision per arm from one user-grain aggregate.

    Scale notes (100 TB): conversion flags reduce user-grain in one
    combining pass; the LLR and verdict are scalar projections over
    |arms| rows. Sequential-in-time semantics need only this same
    aggregate re-run per look."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.expr("user_id % 2").alias("arm")).agg(
        F.expr(
            "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("converted")
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    llr = f"n_conv * {_SPRT_L1} + (n_users - n_conv) * {_SPRT_L0}"
    return arms.select(
        F.col("arm").cast("bigint").alias("arm"),
        "n_users",
        F.col("n_conv").alias("n_converted"),
        F.expr("CAST(n_conv * 1000000 div n_users AS BIGINT)").alias(
            "conv_ppm"
        ),
        F.expr(f"CAST({llr} AS BIGINT)").alias("llr_micro"),
        F.expr(
            f"CASE WHEN {llr} >= {_SPRT_UP} THEN 'accept_h1'"
            f" WHEN {llr} <= {_SPRT_LO} THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    )


# ---------------------------------------------------------------------------
# Experiment power analysis: minimum detectable effect at current n
# ---------------------------------------------------------------------------

#: z_{0.975} + z_{0.8} for alpha=.05 two-sided, power .8 — the literal
#: constant every power calculator uses (2.8016... as exact micro).
_MDE_Z = "2801585"


@register(
    "events_power_mde",
    f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS ss
      FROM u GROUP BY 1
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           n AS n_users,
           CAST((s // n) * 1000000 + ((s % n) * 1000 // n) * 1000
                + (((s % n) * 1000 % n) * 1000 // n) AS BIGINT)
             AS mean_cents_micro,
           CAST(floor((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                      * 1000000) AS BIGINT) AS var_micro,
           CAST(floor({_MDE_Z} / 1000000.0
                      * sqrt(2.0 * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                             - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                             / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
             AS mde_cents_micro
    FROM arms
    """,
    doc=(
        "Experiment power analysis at the current sample: the minimum "
        "detectable effect per arm, (z_0.975 + z_0.8) * sqrt(2 "
        "sigma^2 / n), from exact integer per-user spend moments — "
        "the answer to 'can this experiment even see the lift we "
        "care about?' BEFORE it runs to fixed horizon. Completes the "
        "experimentation toolkit (SRM guardrail, CUPED adjustment, "
        "SPRT early stop, DID readout). IEEE-identical double text "
        "(sqrt is correctly rounded), floored to micro."
    ),
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDE per arm from one user-grain moment pass.

    Scale notes (100 TB): one combining user-grain sum, one 2-row arm
    aggregate; the power algebra is a scalar projection. The raw
    ss power sum bounds at ~1e18 / max_user_spend^2 users — past
    that, anchor per-user spend by its integer mean first (the
    agg_variance_twopass recipe)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.expr("user_id % 2").alias("arm")).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
        ).alias("y")
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.expr("y * y")).cast("bigint").alias("ss"),
    )
    var = (
        "(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    return arms.select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n").alias("n_users"),
        F.expr(
            "CAST((s div n) * 1000000 + ((s % n) * 1000 div n) * 1000"
            " + (((s % n) * 1000 % n) * 1000 div n) AS BIGINT)"
        ).alias("mean_cents_micro"),
        F.expr(f"CAST(floor({var} * 1000000) AS BIGINT)").alias("var_micro"),
        F.expr(
            f"CAST(floor({_MDE_Z} / 1000000.0"
            f" * sqrt(2.0 * {var} / CAST(n AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("mde_cents_micro"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest: Holt vs naive vs seasonal-naive on a holdout
# ---------------------------------------------------------------------------

#: per-day absolute percentage error in ppm, denominator floored at 1
#: so zero-count days stay defined; exact integer divmod chain.
_BT_APE = (
    "((abs({x} - ({f})) // greatest({x}, 1)) * 1000000"
    " + ((abs({x} - ({f})) % greatest({x}, 1)) * 1000"
    "    // greatest({x}, 1)) * 1000"
    " + (((abs({x} - ({f})) % greatest({x}, 1)) * 1000 % greatest({x}, 1))"
    "    * 1000 // greatest({x}, 1)))"
)


@register(
    "events_forecast_backtest",
    f"""
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), nn AS (
      SELECT CAST(max(rn) AS BIGINT) AS n,
             CAST((max(rn) * 4) // 5 AS BIGINT) AS cut
      FROM ser
    ), st AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT x FROM ser WHERE rn = 1) * 1000 AS l,
             ((SELECT x FROM ser WHERE rn = 2)
              - (SELECT x FROM ser WHERE rn = 1)) * 1000 AS b
      UNION ALL
      SELECT d.rn,
             (200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000,
             (100 * ((200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000 - s.l)
              + 900 * s.b) // 1000
      FROM st s JOIN ser d CROSS JOIN nn
        ON d.rn = s.rn + 1 AND d.rn <= nn.cut
    ), fin AS (
      SELECT l, b FROM st CROSS JOIN nn WHERE rn = nn.cut
    ), test AS (
      SELECT t.rn, t.x,
             greatest((f.l + (t.rn - nn.cut) * f.b) // 1000, 0) AS f_holt,
             (SELECT x FROM ser WHERE rn = nn.cut) AS f_naive,
             (SELECT x FROM ser s2 CROSS JOIN nn n2
              WHERE s2.rn = n2.cut - 7 + 1 + ((t.rn - n2.cut - 1) % 7))
               AS f_snaive
      FROM ser t CROSS JOIN fin f CROSS JOIN nn
      WHERE t.rn > nn.cut
    ),
    models AS (
      SELECT 'holt' AS model,
             {_BT_APE.format(x="x", f="f_holt")} AS ape FROM test
      UNION ALL
      SELECT 'naive_last',
             {_BT_APE.format(x="x", f="f_naive")} FROM test
      UNION ALL
      SELECT 'seasonal_naive',
             {_BT_APE.format(x="x", f="f_snaive")} FROM test
    )
    SELECT model,
           CAST((SELECT cut FROM nn) AS BIGINT) AS n_train_days,
           CAST(count(*) AS BIGINT) AS n_test_days,
           CAST(sum(ape) // count(*) AS BIGINT) AS mape_ppm
    FROM models GROUP BY 1
    """,
    doc=(
        "Forecast backtest on an 80/20 day split: Holt state frozen at "
        "the cutoff projects h-step-ahead; naive-last and "
        "seasonal-naive (last train week, cycled) are the baselines "
        "every forecast must beat before anyone trusts it. MAPE in "
        "exact integer ppm (per-day divmod chain, zero-count days "
        "floored to denominator 1). The eval harness for the "
        "forecasting family — what recall evals are to the ANN "
        "operators."
    ),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout MAPE for Holt vs the two naive baselines.

    Scale notes (100 TB): one fact rollup to |days| rows; the train
    fold and the test-day error sums all run inside projections over
    ONE collected bounded array — no per-model re-scan."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx").alias("i"), F.col("x").alias("x")))
        ).alias("a")
    )
    staged = arr.select(
        "a",
        F.size("a").cast("bigint").alias("n"),
        F.expr("CAST((size(a) * 4) div 5 AS BIGINT)").alias("cut"),
    )
    fold = (
        "aggregate(slice(a, 2, CAST(cut AS INT) - 1),"
        " named_struct('l', a[0].x * 1000L,"
        "              'b', (a[1].x - a[0].x) * 1000L),"
        " (s, e) -> named_struct("
        "   'l', (200L * e.x * 1000L + 800L * (s.l + s.b)) div 1000L,"
        "   'b', (100L * ((200L * e.x * 1000L + 800L * (s.l + s.b))"
        "        div 1000L - s.l) + 900L * s.b) div 1000L))"
    )
    st = staged.select("a", "n", "cut", F.expr(fold).alias("s"))
    # test slice: elements cut+1..n (1-based slice start cut+1)
    test = st.select(
        "n",
        "cut",
        F.expr("s.l").alias("l"),
        F.expr("s.b").alias("b"),
        F.expr("element_at(a, CAST(cut AS INT)).x").alias("f_naive"),
        F.expr("a").alias("a"),
        F.explode(
            F.expr("slice(a, CAST(cut AS INT) + 1, CAST(n - cut AS INT))")
        ).alias("t"),
    ).select(
        "n",
        "cut",
        F.expr("t.x").alias("x"),
        F.expr("t.i + 1").alias("rn"),
        F.expr("greatest((l + (t.i + 1 - cut) * b) div 1000, 0L)").alias(
            "f_holt"
        ),
        "f_naive",
        F.expr(
            "element_at(a, CAST(cut - 7 + 1 + ((t.i + 1 - cut - 1) % 7)"
            " AS INT)).x"
        ).alias("f_snaive"),
    )
    # all three models' error sums in ONE aggregate over the test
    # rows, then an exploded literal-struct unpivot — a per-model
    # union would re-execute the fact lineage once per branch (the
    # ReuseExchange-across-branches trap)
    apes = {
        name: _BT_APE.format(x="x", f=f).replace("//", "div")
        for name, f in (
            ("holt", "f_holt"),
            ("naive_last", "f_naive"),
            ("seasonal_naive", "f_snaive"),
        )
    }
    one = test.agg(
        F.max("cut").cast("bigint").alias("n_train_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
        *[
            F.expr(f"CAST(sum({ape}) AS BIGINT)").alias(f"s_{name}")
            for name, ape in apes.items()
        ],
    )
    structs = ", ".join(
        f"named_struct('model', '{name}', 'n_train_days', n_train_days,"
        f" 'n_test_days', n_test_days,"
        f" 'mape_ppm', CAST(s_{name} div n_test_days AS BIGINT))"
        for name in apes
    )
    return one.select(
        F.explode(F.expr(f"array({structs})")).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# Hour-of-day behavioral entropy profile (conditional entropy H(type|hour))
# ---------------------------------------------------------------------------

#: per-cell term: c_ht * floor_micro(ln(c_h / c_ht)) — the log-ratio is
#: floored to an INTEGER before the distributed sum (the agg_mutual_
#: information recipe), so aggregation order cannot move the result.
_EHE_TERM = (
    "c * CAST(floor(ln(CAST(ch AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "events_hourly_entropy",
    f"""
    WITH cells AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hr, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT hr, event_type, c,
             CAST(sum(c) OVER (PARTITION BY hr) AS BIGINT) AS ch
      FROM cells
    ), hourly AS (
      SELECT hr,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum({_EHE_TERM}) // sum(c) AS BIGINT) AS entropy_micro
      FROM m GROUP BY 1
    ), spine AS (SELECT unnest(range(0, 24)) AS hr)
    SELECT CAST(s.hr AS BIGINT) AS hr,
           CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(h.n_types, 0) AS BIGINT) AS n_types,
           CAST(coalesce(h.entropy_micro, 0) AS BIGINT) AS entropy_micro,
           CAST(coalesce(h.n_events, 0) * 1000000
                // (SELECT sum(n_events) FROM hourly) AS BIGINT)
             AS weight_ppm
    FROM spine s LEFT JOIN hourly h ON h.hr = s.hr
    """,
    doc=(
        "Hour-of-day behavioral entropy profile: the conditional "
        "entropy of event type within each hour (micro-nats, per-cell "
        "log-ratios floored BEFORE the distributed sum so aggregation "
        "order cannot move the value) plus each hour's traffic weight. "
        "Low-entropy hours = predictable traffic (cache/prefetch "
        "opportunities); the 24-row spine keeps silent hours visible."
    ),
)
def events_hourly_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(event_type | hour) profile over a 24-hour spine.

    Scale notes (100 TB): one scan reduced map-side to |hours|x|types|
    cells; the per-hour total is a window over that bounded cell
    table, and everything downstream is 24-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("CAST(hour(ts) AS BIGINT)").alias("hr"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = cells.select(
        "hr",
        "c",
        F.sum("c").over(Window.partitionBy("hr")).cast("bigint").alias("ch"),
    )
    hourly = m.groupBy("hr").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr(f"CAST(sum({_EHE_TERM}) div sum(c) AS BIGINT)").alias(
            "entropy_micro"
        ),
    )
    total = hourly.agg(F.sum("n_events").cast("bigint").alias("tot"))
    spine = ev.sparkSession.range(0, 24).select(
        F.col("id").cast("bigint").alias("hr")
    )
    return (
        F.broadcast(spine)
        .join(hourly, "hr", "left_outer")
        .crossJoin(F.broadcast(total))
        .select(
            "hr",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("n_types", F.lit(0)).cast("bigint").alias("n_types"),
            F.coalesce("entropy_micro", F.lit(0))
            .cast("bigint")
            .alias("entropy_micro"),
            F.expr(
                "CAST(coalesce(n_events, 0) * 1000000 div tot AS BIGINT)"
            ).alias("weight_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-session gap distribution (30-min sessionization, hour buckets)
# ---------------------------------------------------------------------------

_SGD_GAP_US = 30 * 60 * 1000000  # session break: > 30 min silence
_SGD_CAP_H = 72  # histogram tail cap (hours)


@register(
    "events_session_gap_dist",
    f"""
    WITH t AS (
      SELECT user_id,
             datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS us
      FROM events
    ), g AS (
      SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
               AS gap_us
      FROM t
    ), inter AS (
      SELECT least(gap_us // 3600000000, {_SGD_CAP_H}) AS gap_hours
      FROM g WHERE gap_us > {_SGD_GAP_US}
    )
    SELECT CAST(gap_hours AS BIGINT) AS gap_hours,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT)
             AS share_ppm,
           CAST(sum(count(*)) OVER (ORDER BY gap_hours
                                    ROWS UNBOUNDED PRECEDING)
                * 1000000 // sum(count(*)) OVER () AS BIGINT) AS cum_ppm
    FROM inter GROUP BY gap_hours
    """,
    doc=(
        "Inter-session gap distribution: sessionize each user's "
        "stream with a 30-minute silence rule, then histogram the "
        "between-session gaps in hour buckets (tail-capped at "
        f"{_SGD_CAP_H} h) with share and cumulative ppm. The "
        "return-frequency curve that drives notification timing, "
        "churn-risk thresholds and session-timeout tuning — and the "
        "empirical justification for the 30-minute rule itself."
    ),
)
def events_session_gap_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of inter-session gaps in capped hour buckets.

    Scale notes (100 TB): the only window is user-keyed lag (bounded
    per-user partitions); gaps reduce map-side to the CAPPED hour
    domain (<= 73 rows), over which the share/cumulative windows run.
    No global sort, no unbounded-domain window."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    t = ev.select(
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("us"),
    )
    g = t.select(
        (
            F.col("us")
            - F.lag("us").over(Window.partitionBy("user_id").orderBy("us"))
        ).alias("gap_us")
    )
    inter = g.filter(F.col("gap_us") > _SGD_GAP_US).select(
        F.expr(f"least(gap_us div 3600000000, {_SGD_CAP_H}L)").alias(
            "gap_hours"
        )
    )
    cnt = inter.groupBy("gap_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps")
    )
    w_all = Window.partitionBy(F.lit(1))
    w_cum = Window.orderBy("gap_hours").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cnt.select(
        F.col("gap_hours").cast("bigint"),
        "n_gaps",
        F.sum("n_gaps").over(w_all).alias("__tot"),
        F.sum("n_gaps").over(w_cum).alias("__cum"),
    ).select(
        "gap_hours",
        "n_gaps",
        F.expr("CAST(n_gaps * 1000000 div __tot AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST(__cum * 1000000 div __tot AS BIGINT)").alias("cum_ppm"),
    )


# ---------------------------------------------------------------------------
# Capacity plan from the backtest winner (forecast family composition)
# ---------------------------------------------------------------------------

_CP_H = 14  # planning horizon (days)

#: winner pick — identical CASE text both engines; <= makes ties fall
#: to the alphabetically-first model name.
_CP_WINNER = (
    "CASE WHEN sape_h <= sape_n AND sape_h <= sape_s THEN 'holt'"
    " WHEN sape_n <= sape_s THEN 'naive_last'"
    " ELSE 'seasonal_naive' END"
)


@register(
    "events_capacity_plan",
    f"""
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), nn AS (
      SELECT CAST(max(rn) AS BIGINT) AS n,
             CAST((max(rn) * 4) // 5 AS BIGINT) AS cut
      FROM ser
    ), st AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT x FROM ser WHERE rn = 1) * 1000 AS l,
             ((SELECT x FROM ser WHERE rn = 2)
              - (SELECT x FROM ser WHERE rn = 1)) * 1000 AS b
      UNION ALL
      SELECT d.rn,
             (200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000,
             (100 * ((200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000 - s.l)
              + 900 * s.b) // 1000
      FROM st s JOIN ser d CROSS JOIN nn
        ON d.rn = s.rn + 1 AND d.rn <= nn.cut
    ), stf AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT x FROM ser WHERE rn = 1) * 1000 AS l,
             ((SELECT x FROM ser WHERE rn = 2)
              - (SELECT x FROM ser WHERE rn = 1)) * 1000 AS b
      UNION ALL
      SELECT d.rn,
             (200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000,
             (100 * ((200 * d.x * 1000 + 800 * (s.l + s.b)) // 1000 - s.l)
              + 900 * s.b) // 1000
      FROM stf s JOIN ser d CROSS JOIN nn
        ON d.rn = s.rn + 1 AND d.rn <= nn.n
    ), fin AS (
      SELECT l, b FROM st CROSS JOIN nn WHERE rn = nn.cut
    ), finf AS (
      SELECT l, b FROM stf CROSS JOIN nn WHERE rn = nn.n
    ), test AS (
      SELECT t.rn, t.x,
             greatest((f.l + (t.rn - nn.cut) * f.b) // 1000, 0) AS f_holt,
             (SELECT x FROM ser WHERE rn = nn.cut) AS f_naive,
             (SELECT x FROM ser s2 CROSS JOIN nn n2
              WHERE s2.rn = n2.cut - 7 + 1 + ((t.rn - n2.cut - 1) % 7))
               AS f_snaive
      FROM ser t CROSS JOIN fin f CROSS JOIN nn
      WHERE t.rn > nn.cut
    ), errs AS (
      SELECT CAST(sum({_BT_APE.format(x="x", f="f_holt")}) AS BIGINT)
               AS sape_h,
             CAST(sum({_BT_APE.format(x="x", f="f_naive")}) AS BIGINT)
               AS sape_n,
             CAST(sum({_BT_APE.format(x="x", f="f_snaive")}) AS BIGINT)
               AS sape_s,
             CAST(sum(abs(x - f_holt)) AS BIGINT) AS sae_h,
             CAST(sum(abs(x - f_naive)) AS BIGINT) AS sae_n,
             CAST(sum(abs(x - f_snaive)) AS BIGINT) AS sae_s,
             CAST(count(*) AS BIGINT) AS nt
      FROM test
    ), pick AS (
      SELECT {_CP_WINNER} AS model,
             CASE WHEN sape_h <= sape_n AND sape_h <= sape_s THEN sae_h
                  WHEN sape_n <= sape_s THEN sae_n ELSE sae_s END
               // nt AS mae
      FROM errs
    ), hs AS (SELECT unnest(range(1, {_CP_H} + 1)) AS h)
    SELECT CAST(hs.h AS BIGINT) AS h,
           p.model,
           CAST(CASE p.model
                WHEN 'holt' THEN greatest((ff.l + hs.h * ff.b) // 1000, 0)
                WHEN 'naive_last'
                  THEN (SELECT x FROM ser CROSS JOIN nn WHERE rn = nn.n)
                ELSE (SELECT x FROM ser s2 CROSS JOIN nn n2
                      WHERE s2.rn = n2.n - 7 + 1 + ((hs.h - 1) % 7))
                END AS BIGINT) AS forecast,
           CAST(p.mae AS BIGINT) AS mae,
           CAST(CASE p.model
                WHEN 'holt' THEN greatest((ff.l + hs.h * ff.b) // 1000, 0)
                WHEN 'naive_last'
                  THEN (SELECT x FROM ser CROSS JOIN nn WHERE rn = nn.n)
                ELSE (SELECT x FROM ser s2 CROSS JOIN nn n2
                      WHERE s2.rn = n2.n - 7 + 1 + ((hs.h - 1) % 7))
                END + 2 * p.mae AS BIGINT) AS capacity
    FROM hs CROSS JOIN pick p CROSS JOIN finf ff
    """,
    doc=(
        "Capacity plan composed from the forecast family: the backtest "
        "(same 80/20 split and integer MAPE as "
        "events_forecast_backtest) picks the winning model, the winner "
        "is refit on the FULL series, and each of the next "
        f"{_CP_H} days gets forecast + 2x backtest-MAE headroom — the "
        "provision-for-error loop that turns a forecast into a "
        "capacity number. All integer state (milli-scaled Holt fold), "
        "winner tie-breaks alphabetical via identical CASE text."
    ),
)
def events_capacity_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winner-model forecast + MAE headroom for the next 14 days.

    Scale notes (100 TB): one fact rollup to |days| rows collected
    into ONE bounded array; train fold, full fold, per-model error
    sums and the 14 projected days are all projections/HOF folds over
    that single row — the fact is scanned once, nothing corpus-scale
    is ever collected."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("idx").alias("i"), F.col("x").alias("x"))
            )
        ).alias("a")
    )
    staged = arr.select(
        "a",
        F.size("a").cast("bigint").alias("n"),
        F.expr("CAST((size(a) * 4) div 5 AS BIGINT)").alias("cut"),
    )

    def fold(upto: str) -> str:
        return (
            f"aggregate(slice(a, 2, CAST({upto} AS INT) - 1),"
            " named_struct('l', a[0].x * 1000L,"
            "              'b', (a[1].x - a[0].x) * 1000L),"
            " (s, e) -> named_struct("
            "   'l', (200L * e.x * 1000L + 800L * (s.l + s.b)) div 1000L,"
            "   'b', (100L * ((200L * e.x * 1000L + 800L * (s.l + s.b))"
            "        div 1000L - s.l) + 900L * s.b) div 1000L))"
        )

    st = staged.select(
        "a", "n", "cut",
        F.expr(fold("cut")).alias("s"),
        F.expr(fold("n")).alias("sf"),
    )
    fh = "greatest((s.l + (e.i + 1 - cut) * s.b) div 1000, 0L)"
    fn = "element_at(a, CAST(cut AS INT)).x"
    fs = (
        "element_at(a, CAST(cut - 7 + 1 + ((e.i + 1 - cut - 1) % 7)"
        " AS INT)).x"
    )

    def test_sum(term: str) -> str:
        return (
            "aggregate(slice(a, CAST(cut AS INT) + 1, CAST(n - cut AS INT)),"
            f" 0L, (acc, e) -> acc + ({term}))"
        )

    def ape(f: str) -> str:
        return _BT_APE.format(x="e.x", f=f).replace("//", "div")

    errs = st.select(
        "a", "n", "cut",
        F.expr("s.l").alias("l"), F.expr("s.b").alias("b"),
        F.expr("sf.l").alias("lf"), F.expr("sf.b").alias("bf"),
        F.expr(f"CAST({test_sum(ape(fh))} AS BIGINT)").alias("sape_h"),
        F.expr(f"CAST({test_sum(ape(fn))} AS BIGINT)").alias("sape_n"),
        F.expr(f"CAST({test_sum(ape(fs))} AS BIGINT)").alias("sape_s"),
        F.expr(f"CAST({test_sum(f'abs(e.x - ({fh}))')} AS BIGINT)").alias(
            "sae_h"
        ),
        F.expr(f"CAST({test_sum(f'abs(e.x - ({fn}))')} AS BIGINT)").alias(
            "sae_n"
        ),
        F.expr(f"CAST({test_sum(f'abs(e.x - ({fs}))')} AS BIGINT)").alias(
            "sae_s"
        ),
        F.expr("CAST(n - cut AS BIGINT)").alias("nt"),
    )
    pick = errs.select(
        "a", "n", "lf", "bf",
        F.expr(_CP_WINNER).alias("model"),
        F.expr(
            "CASE WHEN sape_h <= sape_n AND sape_h <= sape_s THEN sae_h"
            " WHEN sape_n <= sape_s THEN sae_n ELSE sae_s END div nt"
        ).alias("mae"),
    )
    fcast = (
        "CASE model"
        " WHEN 'holt' THEN greatest((lf + h * bf) div 1000, 0L)"
        " WHEN 'naive_last' THEN element_at(a, CAST(n AS INT)).x"
        " ELSE element_at(a, CAST(n - 7 + 1 + ((h - 1) % 7) AS INT)).x"
        " END"
    )
    return (
        pick.select(
            "a", "n", "lf", "bf", "model", "mae",
            F.explode(F.expr(f"sequence(1L, {_CP_H}L)")).alias("h"),
        )
        .select(
            F.col("h").cast("bigint"),
            "model",
            F.expr(f"CAST({fcast} AS BIGINT)").alias("forecast"),
            F.col("mae").cast("bigint"),
            F.expr(f"CAST({fcast} + 2 * mae AS BIGINT)").alias("capacity"),
        )
    )


# ---------------------------------------------------------------------------
# Retention matrix via distributed 32-bit bitmap intersection
# ---------------------------------------------------------------------------

_RB_LAGS = (1, 7)  # next-day and week-over-week retention


@register(
    "events_retention_bitmap",
    f"""
    WITH w AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             CAST(user_id // 32 AS BIGINT) AS wid,
             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT))
                  AS BIGINT) AS bits
      FROM events GROUP BY 1, 2
    ),
    act AS (
      SELECT day_idx, CAST(sum(bit_count(bits)) AS BIGINT) AS n_active
      FROM w GROUP BY 1
    ),
    lags(lag_days) AS (VALUES (1), (7)),
    pairs AS (
      SELECT a.day_idx, l.lag_days,
             CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
      FROM w a CROSS JOIN lags l
      JOIN w b ON b.wid = a.wid AND b.day_idx = a.day_idx + l.lag_days
      GROUP BY 1, 2
    )
    SELECT p.day_idx, CAST(p.lag_days AS BIGINT) AS lag_days,
           act.n_active, p.n_both,
           CAST(p.n_both * 1000000 // act.n_active AS BIGINT)
             AS retention_ppm
    FROM pairs p JOIN act ON act.day_idx = p.day_idx
    """,
    doc=(
        "Day-over-day and week-over-week user retention computed via "
        "distributed bitmap intersection: per (day, user-word) 32-bit "
        "activity bitmaps are built with one bit_or aggregate, then "
        "retained users are popcounts of word-aligned ANDs — the "
        "roaring-bitmap retention recipe that replaces count-distinct "
        "self-joins at user-id scale. 32-bit words keep the sign bit "
        "out of every shift (the checked-arithmetic rule both engines "
        "share); all outputs are exact integers."
    ),
)
def events_retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention grid from word-aligned bitmap AND + popcount.

    Scale notes (100 TB): the fact collapses map-side into
    |days| x |user-words| bitmap rows (a 32x reduction vs (day, user)
    pairs, and each further day of lag reuses the same words); the
    retention join is word-aligned equi on (wid, day) — never a
    user-grain self-join — and the output is |days| x |lags|. The
    32-bit word is the unit that shards: at larger id spaces the same
    plan holds with more wid values, co-partitioned by construction."""
    ev = load_table(spark, sf_dir, "events")
    # day x user-word grain (a 32x reduction of the distinct
    # (day, user) table): checkpointed so the activity branch and
    # both sides of the retention join share ONE fact scan.
    w = B.word_table(
        ev,
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
            " AS BIGINT)"
        ).alias("day_idx"),
    ).localCheckpoint(eager=False)
    act = w.groupBy("day_idx").agg(
        B.popcount_sum("bits").alias("n_active")
    )
    lags = ev.sparkSession.createDataFrame(
        [(lag,) for lag in _RB_LAGS], "lag_days int"
    )
    a = w.crossJoin(F.broadcast(lags)).select(
        "day_idx",
        "lag_days",
        "wid",
        F.col("bits").alias("a_bits"),
    )
    b = w.select(
        F.col("day_idx").alias("b_day"),
        F.col("wid").alias("b_wid"),
        F.col("bits").alias("b_bits"),
    )
    pairs = (
        a.join(
            b,
            (a.wid == b.b_wid)
            & (b.b_day == a.day_idx + F.col("lag_days")),
        )
        .groupBy("day_idx", "lag_days")
        .agg(B.and_cardinality("a_bits", "b_bits").alias("n_both"))
    )
    return (
        pairs.join(act, "day_idx")
        .select(
            "day_idx",
            F.col("lag_days").cast("bigint").alias("lag_days"),
            "n_active",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000 div n_active AS BIGINT)"
            ).alias("retention_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day WAU via bitmap OR window frames (decomposable distinct)
# ---------------------------------------------------------------------------


@register(
    "events_rolling_wau_bitmap",
    """
    WITH w AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             CAST(user_id // 32 AS BIGINT) AS wid,
             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT))
                  AS BIGINT) AS bits
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT day_idx, wid,
             CAST(bit_or(bits) OVER (
               PARTITION BY wid ORDER BY day_idx
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS win_bits,
             bits
      FROM w
    )
    SELECT day_idx,
           CAST(sum(bit_count(bits)) AS BIGINT) AS dau,
           CAST(sum(bit_count(win_bits)) AS BIGINT) AS wau7,
           CAST(sum(bit_count(bits)) * 1000000
                // sum(bit_count(win_bits)) AS BIGINT) AS stickiness_ppm
    FROM rolled GROUP BY day_idx
    """,
    doc=(
        "Rolling 7-day active users through a real window FRAME: "
        "COUNT(DISTINCT) does not decompose over frames (which is why "
        "events_rolling_mau explodes each activity into the days it "
        "supports), but per-word activity BITMAPS do — OR is "
        "associative — so a plain RANGE frame of bit_or per user-word "
        "plus a popcount sum gives the exact rolling cardinality with "
        "no row multiplication at all. DAU/WAU stickiness rides along "
        "free. The RANGE frame (not ROWS) keeps silent days from "
        "shrinking the window."
    ),
)
def events_rolling_wau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling WAU + DAU/WAU stickiness from bitmap OR frames.

    Scale notes (100 TB): the fact collapses to |days| x |user-words|
    bitmap rows once; the rolling OR is a wid-keyed window over that
    reduced table (each partition is one word's |days|-row history —
    perfectly parallel across words), and the daily rollup is a
    bounded aggregate. Compare events_rolling_mau: same answer, but
    this shape moves 7x fewer rows because OR decomposes and explode
    is unnecessary."""
    ev = load_table(spark, sf_dir, "events")
    w = B.word_table(
        ev,
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_idx"),
    )
    frame = (
        Window.partitionBy("wid").orderBy("day_idx").rangeBetween(-6, 0)
    )
    rolled = w.select(
        "day_idx",
        "bits",
        F.expr("bit_or(bits)")
        .over(frame)
        .cast("bigint")
        .alias("win_bits"),
    )
    return rolled.groupBy("day_idx").agg(
        B.popcount_sum("bits").alias("dau"),
        B.popcount_sum("win_bits").alias("wau7"),
        F.expr(
            "CAST(sum(bit_count(bits)) * 1000000"
            " div sum(bit_count(win_bits)) AS BIGINT)"
        ).alias("stickiness_ppm"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact, over user-day journeys)
# ---------------------------------------------------------------------------

#: channel -> bitmask bit (alphabetical, purchase = the conversion)
_SHAP_CH = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
#: |S|!(n-1-|S|)! for n = 4 channels; n! = 24
_SHAP_W = "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"


@register(
    "events_attribution_shapley",
    f"""
    WITH j AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST({' + '.join(f"{b} * max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END)" for c, b in _SHAP_CH)}
                  AS BIGINT) AS mask,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT mask, CAST(sum(conv) AS BIGINT) AS conv FROM j GROUP BY 1
    ),
    subs AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS s),
    v AS (
      SELECT subs.s, CAST(coalesce(sum(cells.conv), 0) AS BIGINT) AS v
      FROM subs LEFT JOIN cells ON (cells.mask & subs.s) = cells.mask
      GROUP BY subs.s
    ),
    ch(channel, bit) AS (
      VALUES {', '.join(f"('{c}', {b})" for c, b in _SHAP_CH)}
    ),
    marg AS (
      SELECT ch.channel,
             CAST(sum(({_SHAP_W.replace('s0', 'v0.s')})
                      * (v1.v - v0.v)) AS BIGINT) AS phi_x24
      FROM ch
      JOIN v v0 ON (v0.s & ch.bit) = 0
      JOIN v v1 ON v1.s = (v0.s | ch.bit)
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(phi_x24) AS BIGINT) AS t FROM marg)
    SELECT channel, phi_x24,
           CAST(phi_x24 * 1000000 // t AS BIGINT) AS share_ppm,
           CAST(t // 24 AS BIGINT) AS attributed_conversions
    FROM marg CROSS JOIN tot
    """,
    doc=(
        "EXACT Shapley-value marketing attribution over user-day "
        "journeys: each journey's touched-channel set becomes a 4-bit "
        "mask, the coalition value v(S) counts conversions whose "
        "touchset is contained in S (a 16-row zeta transform of the "
        "16 mask cells), and each channel's Shapley value is the "
        "factorially-weighted marginal sum in exact 1/24 units — the "
        "game-theoretic attribution that first/last-touch heuristics "
        "approximate, feasible exactly because the subset lattice is "
        "2^channels, not 2^users. phi sums to v(full) - v(empty) "
        "(efficiency), so attributed_conversions is integer by "
        "construction."
    ),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley conversion credit per channel.

    Scale notes (100 TB): the fact collapses to (user, day) journeys
    in one combining aggregate, then to 16 mask cells; everything
    after — the subset-lattice zeta transform, the marginal join, the
    shares — is arithmetic over <= 16-row tables. Adding channels
    grows the lattice as 2^n, never the data path."""
    ev = load_table(spark, sf_dir, "events")
    mask_expr = " + ".join(
        f"{b} * max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END)"
        for c, b in _SHAP_CH
    )
    j = ev.groupBy("user_id", F.expr("CAST(ts AS DATE)").alias("d")).agg(
        F.expr(f"CAST({mask_expr} AS BIGINT)").alias("mask"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("conv"),
    )
    cells = j.groupBy("mask").agg(F.sum("conv").cast("bigint").alias("conv"))
    subs = ev.sparkSession.range(0, 16).select(
        F.col("id").cast("bigint").alias("s")
    )
    v = (
        F.broadcast(subs)
        .join(cells, F.expr("(mask & s) = mask"), "left_outer")
        .groupBy("s")
        .agg(F.expr("CAST(coalesce(sum(conv), 0) AS BIGINT)").alias("v"))
    )
    ch = ev.sparkSession.createDataFrame(
        list(_SHAP_CH), "channel string, bit long"
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    marg = (
        F.broadcast(ch)
        .join(v0, F.expr("(s0 & bit) = 0"))
        .join(v1, F.expr("s1 = (s0 | bit)"))
        .groupBy("channel")
        .agg(
            F.expr(
                f"CAST(sum(({_SHAP_W}) * (v1 - v0)) AS BIGINT)"
            ).alias("phi_x24")
        )
    )
    tot = marg.agg(F.sum("phi_x24").cast("bigint").alias("t"))
    return marg.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi_x24",
        F.expr("CAST(phi_x24 * 1000000 div t AS BIGINT)").alias("share_ppm"),
        F.expr("CAST(t div 24 AS BIGINT)").alias("attributed_conversions"),
    )


# ---------------------------------------------------------------------------
# Observational uplift by exposure (counterfactual 2x2 per event type)
# ---------------------------------------------------------------------------


@register(
    "events_counterfactual_uplift",
    """
    WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             max(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) AS f_click,
             max(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) AS f_view,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS f_signup,
             max(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) AS f_error,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    long AS (
      SELECT 'click' AS exposure, f_click AS e, conv FROM u
      UNION ALL SELECT 'view', f_view, conv FROM u
      UNION ALL SELECT 'signup', f_signup, conv FROM u
      UNION ALL SELECT 'error', f_error, conv FROM u
    ),
    cells AS (
      SELECT exposure,
             CAST(sum(e) AS BIGINT) AS n_exposed,
             CAST(sum(e * conv) AS BIGINT) AS conv_exposed,
             CAST(sum(1 - e) AS BIGINT) AS n_unexposed,
             CAST(sum((1 - e) * conv) AS BIGINT) AS conv_unexposed
      FROM long GROUP BY 1
    )
    SELECT exposure, n_exposed, conv_exposed, n_unexposed, conv_unexposed,
           CAST(conv_exposed * 1000000 // nullif(n_exposed, 0)
                - conv_unexposed * 1000000 // nullif(n_unexposed, 0)
                AS BIGINT) AS uplift_ppm,
           CAST((conv_exposed * 1000000 // nullif(n_exposed, 0)) * 1000
                // nullif(conv_unexposed * 1000000
                          // nullif(n_unexposed, 0), 0)
                AS BIGINT) AS lift_milli
    FROM cells
    ORDER BY exposure
    """,
    doc=(
        "Observational uplift table: for each candidate exposure event "
        "type, the journey-level ((user, day) — the Shapley "
        "attribution unit) 2x2 of exposure x conversion, additive "
        "uplift in ppm and the relative-risk lift in milli. The lift "
        "divides the two ALREADY-ppm-scaled rates (never the raw "
        "count cross-product, which overflows BIGINT at "
        "fleet-scale user counts); conversion counts are bounded by "
        "user counts so c*1e6 stays inside BIGINT below ~9e12 users."
    ),
)
def events_counterfactual_uplift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-exposure conversion uplift (ppm) + relative lift (milli).

    Scale notes (100 TB): one journey-grain conditional aggregate over
    the stream (map-side combine), a 4x widening of the journey
    table via stack (not a re-scan per exposure type), and a 4-row
    final aggregate. No windows, no collects. Rates are guarded with
    nullif so an all-exposed cell yields NULL, not a crash."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        *[
            F.max(
                F.expr(f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END")
            ).alias(f"f_{t}")
            for t in ("click", "view", "signup", "error")
        ],
        F.max(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        ).alias("conv"),
    )
    long = u.selectExpr(
        "stack(4, 'click', f_click, 'view', f_view, 'signup', f_signup,"
        " 'error', f_error) AS (exposure, e)",
        "conv",
    )
    return (
        long.groupBy("exposure")
        .agg(
            F.sum("e").cast("bigint").alias("n_exposed"),
            F.sum(F.expr("e * conv")).cast("bigint").alias("conv_exposed"),
            F.sum(F.expr("1 - e")).cast("bigint").alias("n_unexposed"),
            F.sum(F.expr("(1 - e) * conv")).cast("bigint").alias(
                "conv_unexposed"
            ),
        )
        .select(
            "exposure", "n_exposed", "conv_exposed", "n_unexposed",
            "conv_unexposed",
            F.expr(
                "CAST(conv_exposed * 1000000 div nullif(n_exposed, 0)"
                " - conv_unexposed * 1000000 div nullif(n_unexposed, 0)"
                " AS BIGINT)"
            ).alias("uplift_ppm"),
            F.expr(
                "CAST((conv_exposed * 1000000 div nullif(n_exposed, 0))"
                " * 1000 div nullif(conv_unexposed * 1000000"
                " div nullif(n_unexposed, 0), 0) AS BIGINT)"
            ).alias("lift_milli"),
        )
        .orderBy("exposure")
    )


# ---------------------------------------------------------------------------
# Damped-trend Holt smoothing (the long-horizon-sane forecaster)
# ---------------------------------------------------------------------------

#: floor(1e6 * sum_{i=1..h} 0.9^i) — exact via Fraction, embedded as
#: literals so both engines share the identical integer constants.
_HWD_PHI_CUM = {1: 900000, 7: 4695327, 30: 8618479}


@register(
    "events_forecast_holt_damped",
    f"""
    WITH RECURSIVE bounds AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(range(0, d1 - d0 + 1)) AS idx, d0 FROM bounds
    ), cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), ser AS (
      SELECT s.idx + 1 AS rn, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.d = s.d0 + s.idx
    ), st AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT x FROM ser WHERE rn = 1) * 1000 AS l,
             ((SELECT x FROM ser WHERE rn = 2)
              - (SELECT x FROM ser WHERE rn = 1)) * 1000 AS b
      UNION ALL
      SELECT d.rn,
             (200 * d.x * 1000
              + 800 * (s.l + (900 * s.b) // 1000)) // 1000,
             (100 * ((200 * d.x * 1000
                      + 800 * (s.l + (900 * s.b) // 1000)) // 1000 - s.l)
              + 900 * ((900 * s.b) // 1000)) // 1000
      FROM st s JOIN ser d ON d.rn = s.rn + 1
    ), fin AS (
      SELECT l, b FROM st WHERE rn = (SELECT max(rn) FROM ser)
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ser)
    SELECT nn.n AS n_days,
           CAST(f.l AS BIGINT) AS level_milli,
           CAST(f.b AS BIGINT) AS trend_milli,
           CAST((f.l * 1000000 + {_HWD_PHI_CUM[1]} * f.b)
                // 1000000000 AS BIGINT)  AS forecast_1d,
           CAST((f.l * 1000000 + {_HWD_PHI_CUM[7]} * f.b)
                // 1000000000 AS BIGINT)  AS forecast_7d,
           CAST((f.l * 1000000 + {_HWD_PHI_CUM[30]} * f.b)
                // 1000000000 AS BIGINT) AS forecast_30d
    FROM fin f CROSS JOIN nn
    """,
    doc=(
        "Damped-trend Holt smoothing (alpha=.2, beta=.1, phi=.9 in "
        "exact milli integers): the damping factor shrinks the trend "
        "each step AND geometrically caps the forecast horizon — the "
        "fix for plain Holt's signature failure of extrapolating a "
        "transient trend linearly into absurd 30-day numbers. The "
        "h-step damped multipliers sum(phi^i) are exact "
        "Fraction-derived micro literals shared by both engines; "
        "recurrence and replay follow the events_forecast_holt "
        "fold/RECURSIVE-CTE pair bit-for-bit."
    ),
)
def events_forecast_holt_damped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer damped Holt: fold in Spark, recursive replay in SQL.

    Scale notes (100 TB): identical to events_forecast_holt — one
    fact rollup to |days| rows, then a single sequential fold over
    the bounded day array; per-group via groupBy(collect_list) when
    forecasting many series."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("idx").alias("i"), F.col("x").alias("x"))
            )
        ).alias("a")
    )
    fold = (
        "aggregate(slice(a, 2, size(a) - 1),"
        " named_struct('l', a[0].x * 1000L,"
        "              'b', (a[1].x - a[0].x) * 1000L),"
        " (s, e) -> named_struct("
        "   'l', (200L * e.x * 1000L"
        "        + 800L * (s.l + (900L * s.b) div 1000L)) div 1000L,"
        "   'b', (100L * ((200L * e.x * 1000L"
        "        + 800L * (s.l + (900L * s.b) div 1000L)) div 1000L - s.l)"
        "        + 900L * ((900L * s.b) div 1000L)) div 1000L))"
    )
    st = arr.select(
        F.expr(fold).alias("s"), F.size("a").cast("bigint").alias("n")
    )
    return st.select(
        F.col("n").alias("n_days"),
        F.expr("s.l").cast("bigint").alias("level_milli"),
        F.expr("s.b").cast("bigint").alias("trend_milli"),
        F.expr(
            f"(s.l * 1000000L + {_HWD_PHI_CUM[1]}L * s.b) div 1000000000L"
        ).cast("bigint").alias("forecast_1d"),
        F.expr(
            f"(s.l * 1000000L + {_HWD_PHI_CUM[7]}L * s.b) div 1000000000L"
        ).cast("bigint").alias("forecast_7d"),
        F.expr(
            f"(s.l * 1000000L + {_HWD_PHI_CUM[30]}L * s.b) div 1000000000L"
        ).cast("bigint").alias("forecast_30d"),
    )


# ---------------------------------------------------------------------------
# Daily latency/value percentile bands (exact group-wise order stats)
# ---------------------------------------------------------------------------

_BANDS_QS = (500, 900, 990)


@register(
    "events_percentile_bands_daily",
    f"""
    WITH v AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    rk AS (
      SELECT day_idx, cents,
             CAST(row_number() OVER (PARTITION BY day_idx
                  ORDER BY cents, event_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY day_idx) AS BIGINT) AS n
      FROM v
    )
    SELECT day_idx, CAST(min(n) AS BIGINT) AS n_events,
           {', '.join(
               f"CAST(min(CASE WHEN rn = (n * {q} + 999) // 1000"
               f" THEN cents END) AS BIGINT) AS p{q // 10}_cents"
               for q in _BANDS_QS
           )}
    FROM rk GROUP BY day_idx
    ORDER BY day_idx
    """,
    doc=(
        "Exact per-day P50/P90/P99 bands over the event value stream — "
        "the ops dashboard grain the global percentile family "
        "(agg_percentiles) doesn't cover: order statistics at ceiled "
        "ranks (q*n+999)//1000 with (value, event_id) tie-break, so "
        "every band is an actual observed value and both engines pick "
        "the identical row. The rank window is PARTITIONED by day — "
        "group-wise, never a global sort."
    ),
)
def events_percentile_bands_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact daily P50/P90/P99 of event values (cents).

    Scale notes (100 TB): one fact pass; the only window is
    partitioned by day, so parallelism is |days| x within-day sort —
    at extreme per-day volumes swap in the sharded mergeable summary
    (agg_quantile_sketch_merge) per day at the same output schema.
    The band extraction is a conditional aggregate, not a join."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_idx"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w_rn = Window.partitionBy("day_idx").orderBy("cents", "event_id")
    w_n = Window.partitionBy("day_idx")
    rk = v.select(
        "day_idx",
        "cents",
        F.row_number().over(w_rn).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n"),
    )
    return (
        rk.groupBy("day_idx")
        .agg(
            F.min("n").cast("bigint").alias("n_events"),
            *[
                F.expr(
                    f"CAST(min(CASE WHEN rn = (n * {q} + 999) div 1000"
                    f" THEN cents END) AS BIGINT)"
                ).alias(f"p{q // 10}_cents")
                for q in _BANDS_QS
            ],
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# Time-decayed engagement (exponential half-life scoring, integer-exact)
# ---------------------------------------------------------------------------

_DECAY_TOP = 20


@register(
    "events_decayed_engagement",
    f"""
    WITH anchor AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ),
    w AS (
      SELECT user_id,
             least(a.d1 - datediff('day', TIMESTAMP '1970-01-01 00:00:00',
                                   ts), 62) AS age,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
      FROM events, anchor a
    ),
    per AS (
      SELECT user_id,
             CAST(sum(1000000 // (1::BIGINT << age)) AS BIGINT)
               AS decayed_count_micro,
             CAST(sum(cents * (1000000 // (1::BIGINT << age))) AS BIGINT)
               AS decayed_cents_micro,
             CAST(count(*) AS BIGINT) AS n_events
      FROM w GROUP BY 1
    )
    SELECT user_id, n_events, decayed_count_micro, decayed_cents_micro, rank
    FROM (SELECT *, CAST(row_number() OVER (
            ORDER BY decayed_count_micro DESC, user_id) AS BIGINT) AS rank
          FROM per) t
    WHERE rank <= {_DECAY_TOP}
    ORDER BY rank
    """,
    doc=(
        "Exponential time-decay engagement score with a one-day "
        "half-life: each event contributes 2^-(age_days), each purchase "
        "additionally value*2^-(age_days) — the recency-weighted "
        "activity ranking behind churn/engagement dashboards. The decay "
        "weight is an integer (1e6 >> age), so the score is an exact "
        "BIGINT sum in micro-units: no pow(), no float accumulation, "
        "engine-identical at any scale; ages cap at 62 so the shift "
        "never touches the sign bit (weights are 0 past age 19 anyway)."
    ),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed per-user engagement, top-20.

    Scale notes (100 TB): one scalar anchor aggregate, one per-row
    projection (the weight is a bit-shift), one user-keyed combining
    aggregate; top-k via orderBy+limit. Nothing here is a window over
    the fact."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    anchor = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1")
    )
    w = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.expr(
            f"least(d1 - timestampdiff(DAY, {epoch}, ts), 62)"
        ).alias("age"),
        F.expr(
            "CASE WHEN event_type = 'purchase'"
            " THEN CAST(round(value * 100) AS BIGINT) ELSE 0L END"
        ).alias("cents"),
    )
    per = w.groupBy("user_id").agg(
        F.sum(F.expr("1000000L div shiftleft(1L, CAST(age AS INT))"))
        .cast("bigint").alias("decayed_count_micro"),
        F.sum(
            F.expr("cents * (1000000L div shiftleft(1L, CAST(age AS INT)))")
        ).cast("bigint").alias("decayed_cents_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    top = per.orderBy(
        F.desc("decayed_count_micro"), F.asc("user_id")
    ).limit(_DECAY_TOP)
    wr = Window.orderBy(F.desc("decayed_count_micro"), F.asc("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .select(
            "user_id", "n_events", "decayed_count_micro",
            "decayed_cents_micro", "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Permutation test on an md5-assigned A/B split (exact, derandomised)
# ---------------------------------------------------------------------------

_PERM_K = 20
_PERM_ASSIGN_SPARK = (
    "CAST(conv(substr(md5(concat(CAST({k} AS STRING), ':',"
    " CAST(user_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 2"
)
_PERM_ASSIGN_DUCK = (
    "CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR) || ':' ||"
    " CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2"
)


@register(
    "events_ab_permutation",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    obs AS (
      SELECT abs(sum(CASE WHEN {_PERM_ASSIGN_DUCK.format(k="'obs'")} = 1
                     THEN cents ELSE -cents END)) AS observed
      FROM per_user
    ),
    perms AS (
      SELECT k.k,
             abs(sum(CASE WHEN {_PERM_ASSIGN_DUCK.format(k="k.k")} = 1
                     THEN cents ELSE -cents END)) AS stat
      FROM per_user CROSS JOIN (
        SELECT unnest(range(0, {_PERM_K})) AS k) k
      GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_user) AS n_users,
           CAST(o.observed AS BIGINT) AS observed_diff_cents,
           CAST({_PERM_K} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN p.stat >= o.observed THEN 1 ELSE 0 END)
                AS BIGINT) AS n_as_extreme,
           CAST(sum(CASE WHEN p.stat >= o.observed THEN 1 ELSE 0 END)
                * 1000 // {_PERM_K} AS BIGINT) AS p_milli
    FROM perms p, obs o
    GROUP BY o.observed
    """,
    doc=(
        "Permutation test for the A/B revenue difference, fully "
        "derandomised: the observed split AND each of the 20 "
        "permutation relabelings are md5 coins on (seed, user_id), so "
        "the whole test — statistic, null distribution, p-value — is "
        "deterministic and engine-exact (integer cents throughout). "
        "The distribution-free significance test that doesn't assume "
        "normality, as a single group-by over a user-grain aggregate."
    ),
)
def events_ab_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-derandomised permutation test on purchase revenue.

    Scale notes (100 TB): the fact collapses to a user-grain cents
    table first; the K relabelings multiply only that bounded table
    (users x K) and immediately re-aggregate — shuffle is on k, K
    groups. Nothing quadratic, no RNG state to coordinate across
    executors."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(round(value * 100) AS BIGINT) ELSE 0L END)"
            " AS BIGINT)"
        ).alias("cents")
    ).localCheckpoint(eager=False)
    obs = per_user.agg(
        F.expr(
            "abs(sum(CASE WHEN "
            + _PERM_ASSIGN_SPARK.format(k="'obs'")
            + " = 1 THEN cents ELSE -cents END))"
        ).alias("observed")
    )
    spine = per_user.sparkSession.range(_PERM_K).select(
        F.col("id").alias("k")
    )
    perms = (
        per_user.crossJoin(F.broadcast(spine))
        .groupBy("k")
        .agg(
            F.expr(
                "abs(sum(CASE WHEN "
                + _PERM_ASSIGN_SPARK.format(k="k")
                + " = 1 THEN cents ELSE -cents END))"
            ).alias("stat")
        )
    )
    n_users = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .agg(
            F.first("observed").cast("bigint").alias("observed_diff_cents"),
            F.sum(
                F.expr("CASE WHEN stat >= observed THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_as_extreme"),
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "n_users",
            "observed_diff_cents",
            F.lit(_PERM_K).cast("bigint").alias("n_perms"),
            "n_as_extreme",
            F.expr(f"n_as_extreme * 1000 div {_PERM_K}").cast("bigint")
            .alias("p_milli"),
        )
    )


# ---------------------------------------------------------------------------
# SES grid search (model selection by one-step-ahead backtest)
# ---------------------------------------------------------------------------

_SES_ALPHAS = (100, 300, 500, 700, 900)  # alpha in milli


@register(
    "events_forecast_ses_gridsearch",
    f"""
    WITH RECURSIVE b AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS d0,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS d1
      FROM events
    ),
    cnt AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    ser AS (
      SELECT CAST(i + 1 AS BIGINT) AS rn,
             CAST(coalesce(c, 0) AS BIGINT) AS x
      FROM (SELECT unnest(range(0, d1 - d0 + 1)) AS i, d0 FROM b) s
      LEFT JOIN cnt ON cnt.d = s.d0 + s.i
    ),
    n AS (SELECT CAST(max(rn) AS BIGINT) AS n_days FROM ser),
    al AS (SELECT unnest([{', '.join(str(a) for a in _SES_ALPHAS)}])
             AS alpha_milli),
    st AS (
      SELECT a.alpha_milli, s.rn, s.x * 1000 AS s, CAST(0 AS BIGINT) AS sse
      FROM ser s, al a WHERE s.rn = 1
      UNION ALL
      SELECT st.alpha_milli, d.rn,
             (st.alpha_milli * d.x * 1000
              + (1000 - st.alpha_milli) * st.s) // 1000,
             st.sse + ((d.x * 1000 - st.s) // 1000)
                      * ((d.x * 1000 - st.s) // 1000)
      FROM st JOIN ser d ON d.rn = st.rn + 1
    ),
    fin AS (
      SELECT alpha_milli, sse AS sse_units
      FROM st, n WHERE st.rn = n.n_days
    )
    SELECT CAST(alpha_milli AS BIGINT) AS alpha_milli,
           CAST(sse_units AS BIGINT) AS sse_units,
           (SELECT n_days FROM n) AS n_days,
           CAST(row_number() OVER (ORDER BY sse_units, alpha_milli)
                AS BIGINT) AS rank
    FROM fin
    ORDER BY rank
    """,
    doc=(
        "Model selection for simple exponential smoothing: a 5-point "
        "alpha grid, each backtested with one-step-ahead squared error "
        "over the full daily series, ranked by SSE — the standard "
        "'pick alpha by backtest' loop as ONE declarative plan (the "
        "grid is a spine; the sequential smoothing state is an integer "
        "milli fold per alpha, recursive-CTE replay in the oracle). "
        "Errors are truncated to whole events before squaring so the "
        "accumulator stays within BIGINT for daily volumes up to ~1e8."
    ),
)
def events_forecast_ses_gridsearch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SES alpha grid search by integer one-step-ahead backtest.

    Scale notes (100 TB): the fact collapses to |days| rows once; the
    5 folds run as 5 projections over one collected bounded array
    (sequential state is inherently serial — the parallel part is the
    rollup). For per-series grids, the same fold runs under
    groupBy(collect_list) keyed by series."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    b = ev.agg(
        F.expr(f"timestampdiff(DAY, {epoch}, min(ts))").alias("d0"),
        F.expr(f"timestampdiff(DAY, {epoch}, max(ts))").alias("d1"),
    )
    spine = b.select(
        "d0", F.explode(F.expr("sequence(0, d1 - d0)")).alias("idx")
    )
    cnt = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ser = spine.join(cnt, cnt.d == spine.d0 + spine.idx, "left").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.coalesce("c", F.lit(0)).cast("bigint").alias("x"),
    )
    arr = ser.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("idx").alias("i"), F.col("x").alias("x"))
            )
        ).alias("a")
    )
    spine_a = arr.sparkSession.range(1).selectExpr(
        f"explode(array({', '.join(str(a) + 'L' for a in _SES_ALPHAS)}))"
        " AS alpha_milli"
    )
    fold = (
        "aggregate(slice(a, 2, size(a) - 1),"
        " named_struct('s', a[0].x * 1000L, 'sse', 0L),"
        " (s, e) -> named_struct("
        "   's', (alpha_milli * e.x * 1000L"
        "         + (1000L - alpha_milli) * s.s) div 1000L,"
        "   'sse', s.sse + ((e.x * 1000L - s.s) div 1000L)"
        "          * ((e.x * 1000L - s.s) div 1000L)))"
    )
    st = (
        arr.crossJoin(F.broadcast(spine_a))
        .select(
            "alpha_milli",
            F.expr(fold).alias("f"),
            F.size("a").cast("bigint").alias("n_days"),
        )
        .select(
            F.col("alpha_milli").cast("bigint"),
            F.expr("f.sse").cast("bigint").alias("sse_units"),
            "n_days",
        )
    )
    wr = Window.orderBy("sse_units", "alpha_milli")
    return (
        st.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Uplift stump (one-split heterogeneous-treatment-effect search)
# ---------------------------------------------------------------------------


@register(
    "events_uplift_stump",
    """
    WITH j AS (
      SELECT user_id,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS treat,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    cells AS (
      SELECT n_events,
             CAST(sum(treat) AS BIGINT) AS n_t,
             CAST(sum(treat * conv) AS BIGINT) AS c_t,
             CAST(sum(1 - treat) AS BIGINT) AS n_c,
             CAST(sum((1 - treat) * conv) AS BIGINT) AS c_c
      FROM j GROUP BY 1
    ),
    cum AS (
      SELECT n_events AS threshold,
             CAST(sum(n_t) OVER w AS BIGINT) AS nl_t,
             CAST(sum(c_t) OVER w AS BIGINT) AS cl_t,
             CAST(sum(n_c) OVER w AS BIGINT) AS nl_c,
             CAST(sum(c_c) OVER w AS BIGINT) AS cl_c,
             CAST(sum(n_t) OVER () AS BIGINT) AS tot_n_t,
             CAST(sum(c_t) OVER () AS BIGINT) AS tot_c_t,
             CAST(sum(n_c) OVER () AS BIGINT) AS tot_n_c,
             CAST(sum(c_c) OVER () AS BIGINT) AS tot_c_c
      FROM cells
      WINDOW w AS (ORDER BY n_events
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
      SELECT threshold, nl_t, cl_t, nl_c, cl_c,
             tot_n_t - nl_t AS nr_t, tot_c_t - cl_t AS cr_t,
             tot_n_c - nl_c AS nr_c, tot_c_c - cl_c AS cr_c,
             cl_t * 1000000 // nullif(nl_t, 0)
               - cl_c * 1000000 // nullif(nl_c, 0) AS uplift_left_ppm,
             (tot_c_t - cl_t) * 1000000 // nullif(tot_n_t - nl_t, 0)
               - (tot_c_c - cl_c) * 1000000 // nullif(tot_n_c - nl_c, 0)
               AS uplift_right_ppm
      FROM cum
    )
    SELECT CAST(threshold AS BIGINT) AS threshold_n_events,
           nl_t, cl_t, nl_c, cl_c, nr_t, cr_t, nr_c, cr_c,
           CAST(uplift_left_ppm AS BIGINT) AS uplift_left_ppm,
           CAST(uplift_right_ppm AS BIGINT) AS uplift_right_ppm,
           CAST(abs(uplift_left_ppm - uplift_right_ppm) AS BIGINT)
             AS score_ppm,
           CAST(row_number() OVER (
             ORDER BY abs(uplift_left_ppm - uplift_right_ppm) DESC,
                      threshold) AS BIGINT) AS rank
    FROM scored
    WHERE uplift_left_ppm IS NOT NULL AND uplift_right_ppm IS NOT NULL
    ORDER BY rank
    LIMIT 5
    """,
    doc=(
        "Uplift stump: one-split search for heterogeneous treatment "
        "effect — journeys at (user, day) grain, treatment = click "
        "exposure, outcome = purchase; for every candidate split on "
        "journey size, the treated-vs-control conversion uplift is "
        "computed on each side and the split maximising the uplift "
        "GAP wins (the root node of an uplift tree). All rates are "
        "floor-ppm integers; candidate thresholds come from the "
        "bounded n_events domain via ONE cumulative window over the "
        "cell histogram, never a per-threshold pass."
    ),
)
def events_uplift_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single split by treated-vs-control uplift gap.

    Scale notes (100 TB): the fact collapses to (user, day) journeys
    (one combining aggregate), journeys to a value-domain histogram
    keyed by (n_events) — the cumulative window runs over that
    bounded domain, so threshold search costs O(|domain|), not
    O(|journeys| x |thresholds|)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    j = ev.groupBy(
        "user_id",
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(
            F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
        ).alias("treat"),
        F.max(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        ).alias("conv"),
    )
    cells = j.groupBy("n_events").agg(
        F.sum("treat").cast("bigint").alias("n_t"),
        F.sum(F.expr("treat * conv")).cast("bigint").alias("c_t"),
        F.sum(F.expr("1 - treat")).cast("bigint").alias("n_c"),
        F.sum(F.expr("(1 - treat) * conv")).cast("bigint").alias("c_c"),
    )
    wc = Window.orderBy("n_events").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy("n_events").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        F.col("n_events").alias("threshold"),
        F.sum("n_t").over(wc).cast("bigint").alias("nl_t"),
        F.sum("c_t").over(wc).cast("bigint").alias("cl_t"),
        F.sum("n_c").over(wc).cast("bigint").alias("nl_c"),
        F.sum("c_c").over(wc).cast("bigint").alias("cl_c"),
        F.sum("n_t").over(wt).cast("bigint").alias("tot_n_t"),
        F.sum("c_t").over(wt).cast("bigint").alias("tot_c_t"),
        F.sum("n_c").over(wt).cast("bigint").alias("tot_n_c"),
        F.sum("c_c").over(wt).cast("bigint").alias("tot_c_c"),
    )
    scored = cum.select(
        "threshold", "nl_t", "cl_t", "nl_c", "cl_c",
        (F.col("tot_n_t") - F.col("nl_t")).alias("nr_t"),
        (F.col("tot_c_t") - F.col("cl_t")).alias("cr_t"),
        (F.col("tot_n_c") - F.col("nl_c")).alias("nr_c"),
        (F.col("tot_c_c") - F.col("cl_c")).alias("cr_c"),
        F.expr(
            "cl_t * 1000000 div nullif(nl_t, 0)"
            " - cl_c * 1000000 div nullif(nl_c, 0)"
        ).alias("uplift_left_ppm"),
        F.expr(
            "(tot_c_t - cl_t) * 1000000 div nullif(tot_n_t - nl_t, 0)"
            " - (tot_c_c - cl_c) * 1000000 div nullif(tot_n_c - nl_c, 0)"
        ).alias("uplift_right_ppm"),
    ).filter(
        F.col("uplift_left_ppm").isNotNull()
        & F.col("uplift_right_ppm").isNotNull()
    )
    wr = Window.orderBy(
        F.desc(F.expr("abs(uplift_left_ppm - uplift_right_ppm)")),
        F.asc("threshold"),
    )
    return (
        scored.withColumn(
            "score_ppm",
            F.expr("abs(uplift_left_ppm - uplift_right_ppm)")
            .cast("bigint"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("threshold").cast("bigint").alias("threshold_n_events"),
            "nl_t", "cl_t", "nl_c", "cl_c", "nr_t", "cr_t", "nr_c", "cr_c",
            F.col("uplift_left_ppm").cast("bigint"),
            F.col("uplift_right_ppm").cast("bigint"),
            "score_ppm", "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Markov-chain attribution (removal effect) — the data-driven sibling of
# events_attribution_shapley, on (user, day) journeys
# ---------------------------------------------------------------------------

_MK_CH = ("click", "error", "signup", "view")  # non-purchase channels
_MK_ITERS = 6
_MK_DAY_DUCK = "datediff('day', TIMESTAMP '1970-01-01 00:00:00', {t})"


def _mk_att_sql(re: str, s: str) -> str:
    """Three-stage *100 divmod chain: floor(re * 1e6 / s) exactly."""
    q1 = f"(({re}) * 100) // ({s})"
    r1 = f"(({re}) * 100) % ({s})"
    q2 = f"(({r1}) * 100) // ({s})"
    r2 = f"(({r1}) * 100) % ({s})"
    q3 = f"(({r2}) * 100) // ({s})"
    return f"({q1}) * 10000 + ({q2}) * 100 + ({q3})"


def _markov_oracle() -> str:
    ch = _MK_CH
    day = _MK_DAY_DUCK
    srcs = ("start",) + ch
    tm_cols = []
    for s in srcs:
        sl = "START" if s == "start" else s
        out = f"sum(CASE WHEN src = '{sl}' THEN c END)"
        for d in ch + ("conv",):
            dl = "CONV" if d == "conv" else d
            tm_cols.append(
                f"coalesce(sum(CASE WHEN src = '{sl}' AND dst = '{dl}'"
                f" THEN c END) * 1000000 // nullif({out}, 0), 0)"
                f" AS p_{s}_{d}"
            )
    chains = [("c0", None)] + [(f"c{i + 1}", c) for i, c in enumerate(ch)]
    iter_ctes = []
    for cname, removed in chains:
        zero = ", ".join(f"CAST(0 AS BIGINT) AS p_{c}" for c in ch)
        iter_ctes.append(f"v_{cname}_0 AS MATERIALIZED (SELECT {zero})")
        for k in range(1, _MK_ITERS + 1):
            cols = []
            for x in ch:
                terms = [f"tm.p_{x}_conv"]
                for y in ch:
                    if y != removed:
                        terms.append(f"(tm.p_{x}_{y} * v.p_{y}) // 1000000")
                cols.append(
                    f"CAST({' + '.join(terms)} AS BIGINT) AS p_{x}"
                )
            iter_ctes.append(
                f"v_{cname}_{k} AS MATERIALIZED (SELECT {', '.join(cols)}"
                f" FROM tm, v_{cname}_{k - 1} v)"
            )
        terms = ["tm.p_start_conv"]
        for y in ch:
            if y != removed:
                terms.append(f"(tm.p_start_{y} * v.p_{y}) // 1000000")
        iter_ctes.append(
            f"pc_{cname} AS MATERIALIZED (SELECT CAST({' + '.join(terms)} AS BIGINT)"
            f" AS pc FROM tm, v_{cname}_{_MK_ITERS} v)"
        )
    re_cols = ["(SELECT pc FROM pc_c0) AS pc_full"]
    for i, c in enumerate(ch):
        re_cols.append(
            f"greatest(0, (SELECT pc FROM pc_c0)"
            f" - (SELECT pc FROM pc_c{i + 1})) AS re_{c}"
        )
    tc_cols = [
        f"coalesce(sum(CASE WHEN src = '{c}' THEN c END), 0) AS t_{c}"
        for c in ch
    ]
    rows = []
    for i, c in enumerate(ch):
        att = _mk_att_sql(f"re.re_{c}", "s.s")
        rows.append(
            f"""SELECT '{c}' AS channel,
                 CAST(tc.t_{c} AS BIGINT) AS n_touches,
                 CAST(re.pc_full AS BIGINT) AS pconv_full_ppm,
                 CAST((SELECT pc FROM pc_c{i + 1}) AS BIGINT)
                   AS pconv_removed_ppm,
                 CAST(re.re_{c} AS BIGINT) AS removal_effect_ppm,
                 CAST(CASE WHEN s.s = 0 THEN 0 ELSE {att} END AS BIGINT)
                   AS attribution_ppm
               FROM tc, re, s"""
        )
    return f"""
    WITH j AS (
      SELECT user_id, {day.format(t='ts')} AS d,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      FROM events GROUP BY 1, 2
    ),
    tch AS (
      SELECT e.user_id, {day.format(t='e.ts')} AS d,
             e.event_type AS typ, e.ts, e.event_id,
             CASE WHEN j.fp IS NULL THEN 0 ELSE 1 END AS conv
      FROM events e
      JOIN j ON e.user_id = j.user_id AND {day.format(t='e.ts')} = j.d
      WHERE e.event_type <> 'purchase'
        AND (j.fp IS NULL OR e.ts < j.fp)
    ),
    ordd AS (
      SELECT user_id, d, typ, conv,
             row_number() OVER (PARTITION BY user_id, d
                                ORDER BY ts, event_id) AS rn,
             lead(typ) OVER (PARTITION BY user_id, d
                             ORDER BY ts, event_id) AS nxt
      FROM tch
    ),
    jstart AS (
      SELECT j.user_id, j.d,
             CASE WHEN j.fp IS NULL THEN 0 ELSE 1 END AS conv,
             f.typ AS first_typ
      FROM j LEFT JOIN (SELECT user_id, d, typ FROM ordd WHERE rn = 1) f
        ON j.user_id = f.user_id AND j.d = f.d
    ),
    raw AS (
      SELECT 'START' AS src,
             coalesce(first_typ,
                      CASE WHEN conv = 1 THEN 'CONV' ELSE 'DROP' END) AS dst
      FROM jstart
      UNION ALL
      SELECT typ AS src,
             coalesce(nxt,
                      CASE WHEN conv = 1 THEN 'CONV' ELSE 'DROP' END) AS dst
      FROM ordd
    ),
    trans AS MATERIALIZED (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM raw GROUP BY 1, 2
    ),
    tm AS MATERIALIZED (SELECT {', '.join(tm_cols)} FROM trans),
    {', '.join(iter_ctes)},
    re AS MATERIALIZED (SELECT {', '.join(re_cols)}),
    s AS (SELECT {' + '.join(f're_{c}' for c in ch)} AS s FROM re),
    tc AS (SELECT {', '.join(tc_cols)} FROM trans)
    {' UNION ALL '.join(rows)}
    ORDER BY attribution_ppm DESC, channel
    """


@register(
    "events_attribution_markov",
    _markov_oracle(),
    doc=(
        "Markov-chain (removal-effect) attribution — the data-driven "
        "counterpart of events_attribution_shapley: journeys at "
        "(user, day) grain become START->touch->...->CONV/DROP "
        "transitions; channel value = how much the chain's absorption "
        "probability into CONV drops when that channel's node is "
        "removed, L1-normalised into attribution shares. Transition "
        "probabilities are floor-ppm integers; absorption is a "
        "6-step value iteration over the 4-channel state vector "
        "(unrolled single-row CTEs in the oracle), so every number is "
        "engine-exact BIGINT arithmetic."
    ),
)
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect attribution via integer value iteration.

    Scale notes (100 TB): the fact reduces to the transition-count
    table (at most (|channels|+1) x (|channels|+2) rows) via one
    journey window + one combining aggregate; the Markov algebra runs
    on that bounded model state driver-side (the TANE/candidate-keys
    shape: census rows in, constant-size computation, constant-size
    result out). No per-iteration job, no growing lineage."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    day = f"timestampdiff(DAY, {epoch}, {{t}})"
    withd = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.expr(day.format(t="ts")).alias("d"),
    )
    j = withd.groupBy("user_id", "d").agg(
        F.min(
            F.expr("CASE WHEN event_type = 'purchase' THEN ts END")
        ).alias("fp")
    )
    tch = (
        withd.filter(F.col("event_type") != "purchase")
        .join(j, ["user_id", "d"])
        .filter(F.col("fp").isNull() | (F.col("ts") < F.col("fp")))
        .withColumn(
            "conv", F.expr("CASE WHEN fp IS NULL THEN 0 ELSE 1 END")
        )
    )
    wj = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    ordd = tch.select(
        "user_id", "d", F.col("event_type").alias("typ"), "conv",
        F.row_number().over(wj).alias("rn"),
        F.lead("event_type").over(wj).alias("nxt"),
    )
    jstart = (
        j.withColumn(
            "conv", F.expr("CASE WHEN fp IS NULL THEN 0 ELSE 1 END")
        )
        .join(
            ordd.filter(F.col("rn") == 1)
            .select("user_id", "d", F.col("typ").alias("first_typ")),
            ["user_id", "d"], "left",
        )
    )
    raw = jstart.select(
        F.lit("START").alias("src"),
        F.expr(
            "coalesce(first_typ,"
            " CASE WHEN conv = 1 THEN 'CONV' ELSE 'DROP' END)"
        ).alias("dst"),
    ).unionByName(
        ordd.select(
            F.col("typ").alias("src"),
            F.expr(
                "coalesce(nxt,"
                " CASE WHEN conv = 1 THEN 'CONV' ELSE 'DROP' END)"
            ).alias("dst"),
        )
    )
    trans = {
        (r["src"], r["dst"]): r["c"]
        for r in raw.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    }

    ch = list(_MK_CH)
    out = {
        s: sum(c for (a, _), c in trans.items() if a == s)
        for s in ["START"] + ch
    }
    ppm = {
        (s, d): (trans.get((s, d), 0) * 1_000_000 // out[s] if out[s] else 0)
        for s in ["START"] + ch
        for d in ch + ["CONV"]
    }

    def pconv(removed: str | None) -> int:
        p = {c: 0 for c in ch}
        for _ in range(_MK_ITERS):
            p = {
                x: ppm[(x, "CONV")]
                + sum(
                    ppm[(x, y)] * p[y] // 1_000_000
                    for y in ch
                    if y != removed
                )
                for x in ch
            }
        return ppm[("START", "CONV")] + sum(
            ppm[("START", y)] * p[y] // 1_000_000
            for y in ch
            if y != removed
        )

    pc_full = pconv(None)
    pc_rm = {c: pconv(c) for c in ch}
    re = {c: max(0, pc_full - pc_rm[c]) for c in ch}
    s_re = sum(re.values())

    def att(r: int) -> int:
        if s_re == 0:
            return 0
        q1, r1 = divmod(r * 100, s_re)
        q2, r2 = divmod(r1 * 100, s_re)
        q3 = r2 * 100 // s_re
        return q1 * 10000 + q2 * 100 + q3

    rows = sorted(
        (
            (c, out[c], pc_full, pc_rm[c], re[c], att(re[c]))
            for c in ch
        ),
        key=lambda r: (-r[5], r[0]),
    )
    return spark.createDataFrame(
        rows,
        "channel string, n_touches bigint, pconv_full_ppm bigint,"
        " pconv_removed_ppm bigint, removal_effect_ppm bigint,"
        " attribution_ppm bigint",
    ).orderBy(F.desc("attribution_ppm"), F.asc("channel"))


# ---------------------------------------------------------------------------
# Hierarchical bitmap distinct-count rollup (day -> week -> total from ONE
# word table, OR-merge up the hierarchy)
# ---------------------------------------------------------------------------


@register(
    "agg_bitmap_hierarchy",
    """
    WITH w AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             CAST(user_id // 32 AS BIGINT) AS wid,
             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT))
                  AS BIGINT) AS bits
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT day_idx, CAST(sum(bit_count(bits)) AS BIGINT) AS n_active
      FROM w GROUP BY 1
    ),
    wk AS (
      SELECT day_idx // 7 AS week_idx, wid,
             CAST(bit_or(bits) AS BIGINT) AS bits
      FROM w GROUP BY 1, 2
    ),
    weekly AS (
      SELECT week_idx, CAST(sum(bit_count(bits)) AS BIGINT) AS n_active
      FROM wk GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS n_active
      FROM (SELECT wid, bit_or(bits) AS bits FROM w GROUP BY 1)
    ),
    audit AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total
              FROM events)
    SELECT grain, n_periods, min_active, max_active, sum_active, exact_total
    FROM (
      SELECT 'day' AS grain, CAST(count(*) AS BIGINT) AS n_periods,
             CAST(min(n_active) AS BIGINT) AS min_active,
             CAST(max(n_active) AS BIGINT) AS max_active,
             CAST(sum(n_active) AS BIGINT) AS sum_active
      FROM daily
      UNION ALL
      SELECT 'week', CAST(count(*) AS BIGINT), CAST(min(n_active) AS BIGINT),
             CAST(max(n_active) AS BIGINT), CAST(sum(n_active) AS BIGINT)
      FROM weekly
      UNION ALL
      SELECT 'total', 1, n_active, n_active, n_active FROM tot
    ) g, audit
    ORDER BY grain
    """,
    doc=(
        "Hierarchical distinct-user rollup from ONE bitmap word table: "
        "daily 32-bit word bitmaps OR-merge into weekly words and into "
        "the all-time words — the bitmap OR is associative, so every "
        "coarser grain derives from the finer one WITHOUT re-touching "
        "the fact (the cube-of-COUNT-DISTINCT problem, which plain "
        "aggregates cannot roll up, solved by mergeable state). The "
        "exact countDistinct rides along as the audit column: the "
        "total-grain bitmap count must equal it."
    ),
)
def agg_bitmap_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day -> week -> total distinct actives via OR-merged bitmaps.

    Scale notes (100 TB): the fact is touched ONCE (day-grain word
    aggregate, checkpointed); every rollup above it groups ~|days| x
    |users|/32 words — OR-merge is a combining aggregate at every
    level, so the hierarchy costs one shuffle per grain over word
    tables, never a re-scan."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_idx"),
        F.expr("CAST(user_id div 32 AS BIGINT)").alias("wid"),
    ).agg(
        F.expr(
            "CAST(bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))"
            " AS BIGINT)"
        ).alias("bits")
    ).localCheckpoint(eager=False)
    daily = w.groupBy("day_idx").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_active")
    )
    wk = w.groupBy(
        F.expr("day_idx div 7").alias("week_idx"), F.col("wid")
    ).agg(F.expr("CAST(bit_or(bits) AS BIGINT)").alias("bits"))
    weekly = wk.groupBy("week_idx").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_active")
    )
    tot = (
        w.groupBy("wid").agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_active"))
    )
    audit = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_total")
    )

    def lvl(df, grain: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_periods"),
            F.min("n_active").cast("bigint").alias("min_active"),
            F.max("n_active").cast("bigint").alias("max_active"),
            F.sum("n_active").cast("bigint").alias("sum_active"),
        ).select(F.lit(grain).alias("grain"), "*")

    g = (
        lvl(daily, "day")
        .unionByName(lvl(weekly, "week"))
        .unionByName(
            tot.select(
                F.lit("total").alias("grain"),
                F.lit(1).cast("bigint").alias("n_periods"),
                F.col("n_active").alias("min_active"),
                F.col("n_active").alias("max_active"),
                F.col("n_active").alias("sum_active"),
            )
        )
    )
    return (
        g.crossJoin(F.broadcast(audit))
        .select("grain", "n_periods", "min_active", "max_active",
                "sum_active", "exact_total")
        .orderBy("grain")
    )


# ---------------------------------------------------------------------------
# Weekday-effect ANOVA (one-way F over day-of-week groups)
# ---------------------------------------------------------------------------


@register(
    "events_weekday_effect",
    """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    grp AS (
      SELECT CAST((d + 3) % 7 AS BIGINT) AS weekday,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS s_g,
             CAST(sum(x * x) AS BIGINT) AS ss_g
      FROM daily GROUP BY 1
    ),
    arr AS (
      SELECT list(struct_pack(w := weekday, n := n_g, s := s_g, ss := ss_g)
                  ORDER BY weekday) AS a
      FROM grp
    ),
    tot AS (
      SELECT CAST(list_aggregate(list_transform(a, p -> p.n), 'sum')
                  AS BIGINT) AS n,
             CAST(list_aggregate(list_transform(a, p -> p.s), 'sum')
                  AS BIGINT) AS s,
             CAST(len(a) AS BIGINT) AS k,
             list_aggregate(list_transform(a,
               p -> CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE)
                    / CAST(p.n AS DOUBLE)), 'sum') AS sb,
             CAST(list_aggregate(list_transform(a, p -> p.ss), 'sum')
                  AS BIGINT) AS ss
      FROM arr
    ),
    f AS (
      SELECT n, k,
             CAST(floor((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n AS DOUBLE)) * 1000) AS BIGINT)
               AS ssb_milli,
             CAST(floor((CAST(ss AS DOUBLE) - sb) * 1000) AS BIGINT)
               AS ssw_milli,
             CAST(floor(((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                               / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
                        / ((CAST(ss AS DOUBLE) - sb)
                           / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                        * 1000000) AS BIGINT) AS f_micro
      FROM tot
    )
    SELECT g.weekday, g.n_g AS n_days, g.s_g AS total_events,
           CAST(g.s_g * 1000 // g.n_g AS BIGINT) AS mean_milli,
           f.n AS n_total_days, f.ssb_milli, f.ssw_milli, f.f_micro
    FROM grp g, f
    ORDER BY g.weekday
    """,
    doc=(
        "One-way ANOVA for the day-of-week effect on event volume: "
        "between/within sums of squares from exact integer power sums "
        "(weekday id is pure integer arithmetic, (epoch_day + 3) % 7, "
        "no locale-dependent dayofweek call), the float part a "
        "left-to-right fold over the 7-element weekday array with "
        "identical expression text — bit-identical doubles, floor-"
        "milli/micro outputs. F >> 1 says weekday seasonality is real "
        "and forecast models need the weekly term."
    ),
)
def events_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday means + one-way ANOVA F statistic.

    Scale notes (100 TB): the fact collapses to |days| rows, then 7
    weekday groups; the double fold runs over the 7-struct array in
    one projection. Nothing after the first aggregate scales with
    data."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    daily = ev.groupBy(
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grp = daily.groupBy(
        F.expr("CAST((d + 3) % 7 AS BIGINT)").alias("weekday")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("s_g"),
        F.sum(F.expr("x * x")).cast("bigint").alias("ss_g"),
    ).localCheckpoint(eager=False)
    arr = grp.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("weekday").alias("w"), F.col("n_g").alias("n"),
                    F.col("s_g").alias("s"), F.col("ss_g").alias("ss"),
                )
            )
        ).alias("a")
    )
    tot = arr.select(
        F.expr(
            "CAST(aggregate(a, 0L, (acc, p) -> acc + p.n) AS BIGINT)"
        ).alias("n"),
        F.expr(
            "CAST(aggregate(a, 0L, (acc, p) -> acc + p.s) AS BIGINT)"
        ).alias("s"),
        F.expr("CAST(size(a) AS BIGINT)").alias("k"),
        F.expr(
            "aggregate(a, CAST(0 AS DOUBLE), (acc, p) -> acc"
            " + CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE)"
            " / CAST(p.n AS DOUBLE))"
        ).alias("sb"),
        F.expr(
            "CAST(aggregate(a, 0L, (acc, p) -> acc + p.ss) AS BIGINT)"
        ).alias("ss"),
    )
    f = tot.select(
        "n", "k",
        F.expr(
            "CAST(floor((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("ssb_milli"),
        F.expr(
            "CAST(floor((CAST(ss AS DOUBLE) - sb) * 1000) AS BIGINT)"
        ).alias("ssw_milli"),
        F.expr(
            "CAST(floor(((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))"
            " / ((CAST(ss AS DOUBLE) - sb)"
            " / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("f_micro"),
    )
    return (
        grp.crossJoin(F.broadcast(f))
        .select(
            "weekday", F.col("n_g").alias("n_days"),
            F.col("s_g").alias("total_events"),
            F.expr("CAST(s_g * 1000 div n_g AS BIGINT)").alias("mean_milli"),
            F.col("n").alias("n_total_days"), "ssb_milli", "ssw_milli",
            "f_micro",
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Fano factor (burstiness index of per-day counts, by event type)
# ---------------------------------------------------------------------------


@register(
    "events_fano_factor",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    )
    SELECT event_type, n AS n_days, sx AS n_events,
           CAST(((n * sxx - sx * sx) // n) * 1000000 // sx AS BIGINT)
             AS fano_micro,
           CASE WHEN ((n * sxx - sx * sx) // n) * 1000000 // sx < 900000
                THEN 'regular'
                WHEN ((n * sxx - sx * sx) // n) * 1000000 // sx <= 1100000
                THEN 'poisson' ELSE 'bursty' END AS regime
    FROM s
    ORDER BY event_type
    """,
    doc=(
        "Fano factor (variance-to-mean of daily counts) per event type "
        "— the burstiness index: ~1e6 micro for Poisson arrivals, "
        "below for regular/underdispersed traffic, above for bursty. "
        "fano = ((n*Sxx - Sx^2)/n) / Sx from exact integer power sums "
        "with a two-stage floor-division chain — no floats anywhere. "
        "The regime class drives anomaly-detector choice (z-score "
        "assumes Poisson-ish; bursty types need the MAD detector)."
    ),
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/mean dispersion of daily counts per type.

    Scale notes (100 TB): the fact collapses to (type, day) then to
    |types| power-sum rows; everything after is projection."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    daily = ev.groupBy(
        "event_type",
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
    )
    fano = "((n * sxx - sx * sx) div n) * 1000000 div sx"
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sx").alias("n_events"),
        F.expr(f"CAST({fano} AS BIGINT)").alias("fano_micro"),
        F.expr(
            f"CASE WHEN {fano} < 900000 THEN 'regular'"
            f" WHEN {fano} <= 1100000 THEN 'poisson'"
            " ELSE 'bursty' END"
        ).alias("regime"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Viterbi regime decoding (2-state HMM over daily activity, integer scores)
# ---------------------------------------------------------------------------

#: Shared switch-count formula (1-based indexing on both engines:
#: Spark element_at == DuckDB list subscript).
_VIT_SWITCHES = (
    "CASE WHEN size(p) >= 2 THEN size(filter(sequence(2, size(p)),"
    " i -> element_at(p, i) <> element_at(p, i - 1))) ELSE 0 END"
)


@register(
    "events_hmm_viterbi",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx
      FROM daily GROUP BY 1
    ),
    obs AS (
      SELECT d.event_type,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.d)
               AS rn,
             CASE WHEN d.x > st.sx // st.n THEN 1 ELSE 0 END AS o
      FROM daily d JOIN st USING (event_type)
    ),
    mx AS (SELECT event_type, max(rn) AS mrn FROM obs GROUP BY 1),
    v AS (
      SELECT event_type, rn,
             CAST(CASE WHEN o = 0 THEN 2 ELSE -2 END AS BIGINT) AS s0,
             CAST(CASE WHEN o = 1 THEN 2 ELSE -2 END AS BIGINT) AS s1,
             [CAST(0 AS BIGINT)] AS p0,
             [CAST(1 AS BIGINT)] AS p1
      FROM obs WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.rn,
             CAST(CASE WHEN o.o = 0 THEN 2 ELSE -2 END
               + greatest(v.s0, v.s1 - 3) AS BIGINT),
             CAST(CASE WHEN o.o = 1 THEN 2 ELSE -2 END
               + greatest(v.s1, v.s0 - 3) AS BIGINT),
             list_append(CASE WHEN v.s0 >= v.s1 - 3 THEN v.p0 ELSE v.p1
               END, CAST(0 AS BIGINT)),
             list_append(CASE WHEN v.s1 >= v.s0 - 3 THEN v.p1 ELSE v.p0
               END, CAST(1 AS BIGINT))
      FROM v JOIN obs o
        ON o.event_type = v.event_type AND o.rn = v.rn + 1
    ),
    fin AS (
      SELECT v.event_type, v.s0, v.s1,
             CASE WHEN v.s1 > v.s0 THEN v.p1 ELSE v.p0 END AS p
      FROM v JOIN mx ON v.event_type = mx.event_type AND v.rn = mx.mrn
    )
    SELECT event_type,
           CAST(len(p) AS BIGINT) AS n_days,
           CAST(len(list_filter(p, z -> z = 1)) AS BIGINT) AS n_high_days,
           CAST(CASE WHEN len(p) >= 2 THEN len(list_filter(
             range(2, len(p) + 1), i -> p[i] <> p[i - 1])) ELSE 0 END
             AS BIGINT) AS n_switches,
           CAST(greatest(s0, s1) AS BIGINT) AS best_score
    FROM fin ORDER BY event_type
    """,
    doc=(
        "Viterbi decoding of a 2-state (low/high activity) HMM over "
        "per-day event counts, one chain per event type: quantized "
        "INTEGER log-scores (emission +2 match / -2 mismatch against "
        "the type's floored mean-daily threshold; transition 0 stay / "
        "-3 switch, the sticky-regime prior), so the DP is exact in "
        "both engines. Ties prefer staying (>=) and the low state at "
        "the end (strict >). Reports days, decoded high-regime days, "
        "regime switches, and the best path score — the "
        "regime-segmentation primitive behind capacity planning and "
        "burst attribution."
    ),
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-state integer Viterbi over daily counts per event type.

    Scale notes (100 TB): the fact collapses to (type, day) in one
    hash aggregate; the DP then runs as a per-type fold over a
    ~90-element array (vocab-bounded state, one row per type) — no
    window over the fact, no driver loop; parallelism is |types| for
    the fold but the fold input is already tiny. The oracle replays
    the identical integer DP as a recursive CTE keyed on row number."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    daily = ev.groupBy(
        "event_type",
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    typed = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, x))), e -> e.x)"
        ).alias("xs"),
    )
    obs = typed.select(
        "event_type",
        F.expr(
            "transform(xs, x -> CASE WHEN x > sx div n THEN 1 ELSE 0 END)"
        ).alias("o"),
    )
    vit = obs.select(
        "event_type",
        F.expr(
            """
            aggregate(
              o,
              struct(CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
                     CAST(array() AS ARRAY<BIGINT>) AS p0,
                     CAST(array() AS ARRAY<BIGINT>) AS p1),
              (st, ob) -> struct(
                CAST(CASE WHEN ob = 0 THEN 2 ELSE -2 END
                  + greatest(st.s0, st.s1 - 3) AS BIGINT) AS s0,
                CAST(CASE WHEN ob = 1 THEN 2 ELSE -2 END
                  + greatest(st.s1, st.s0 - 3) AS BIGINT) AS s1,
                concat(CASE WHEN st.s0 >= st.s1 - 3 THEN st.p0
                  ELSE st.p1 END, array(CAST(0 AS BIGINT))) AS p0,
                concat(CASE WHEN st.s1 >= st.s0 - 3 THEN st.p1
                  ELSE st.p0 END, array(CAST(1 AS BIGINT))) AS p1),
              st -> struct(st.s0 AS s0, st.s1 AS s1,
                           st.p0 AS p0, st.p1 AS p1))
            """
        ).alias("v"),
    )
    fin = vit.select(
        "event_type",
        F.col("v.s0").alias("s0"),
        F.col("v.s1").alias("s1"),
        F.expr("CASE WHEN v.s1 > v.s0 THEN v.p1 ELSE v.p0 END").alias("p"),
    )
    return fin.select(
        "event_type",
        F.expr("CAST(size(p) AS BIGINT)").alias("n_days"),
        F.expr(
            "CAST(size(filter(p, z -> z = 1)) AS BIGINT)"
        ).alias("n_high_days"),
        F.expr(f"CAST({_VIT_SWITCHES} AS BIGINT)").alias("n_switches"),
        F.expr("CAST(greatest(s0, s1) AS BIGINT)").alias("best_score"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Interrupted time-series analysis (segmented regression around T0)
# ---------------------------------------------------------------------------

_ITS_B1 = "(((n1 * sty1 - st1 * sy1) div (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 div (n1 * stt1 - st1 * st1))"
_ITS_A1 = "((sy1 * 1000 - ((((n1 * sty1 - st1 * sy1) div (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 div (n1 * stt1 - st1 * st1))) * st1) div n1)"
_ITS_B2 = "(((n2 * sty2 - st2 * sy2) div (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 div (n2 * stt2 - st2 * st2))"
_ITS_A2 = "((sy2 * 1000 - ((((n2 * sty2 - st2 * sy2) div (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 div (n2 * stt2 - st2 * st2))) * st2) div n2)"


@register(
    "events_interrupted_ts",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    params AS (
      SELECT event_type, min(d) AS d0,
             CAST((max(d) - min(d) + 1) // 2 AS BIGINT) AS t0
      FROM daily GROUP BY 1
    ),
    seg AS (
      SELECT w.event_type, p.t0,
             CASE WHEN w.d - p.d0 >= p.t0 THEN 1 ELSE 0 END AS s,
             CAST(CASE WHEN w.d - p.d0 >= p.t0
                  THEN w.d - p.d0 - p.t0 ELSE w.d - p.d0 END
               AS BIGINT) AS tau,
             w.y
      FROM daily w JOIN params p USING (event_type)
    ),
    g AS (
      SELECT event_type, min(t0) AS t0,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(*) FILTER (WHERE s = 0) AS BIGINT) AS n1,
             CAST(coalesce(sum(tau) FILTER (WHERE s = 0), 0) AS BIGINT) AS st1,
             CAST(coalesce(sum(y) FILTER (WHERE s = 0), 0) AS BIGINT) AS sy1,
             CAST(coalesce(sum(tau * tau) FILTER (WHERE s = 0), 0) AS BIGINT) AS stt1,
             CAST(coalesce(sum(tau * y) FILTER (WHERE s = 0), 0) AS BIGINT) AS sty1,
             CAST(count(*) FILTER (WHERE s = 1) AS BIGINT) AS n2,
             CAST(coalesce(sum(tau) FILTER (WHERE s = 1), 0) AS BIGINT) AS st2,
             CAST(coalesce(sum(y) FILTER (WHERE s = 1), 0) AS BIGINT) AS sy2,
             CAST(coalesce(sum(tau * tau) FILTER (WHERE s = 1), 0) AS BIGINT) AS stt2,
             CAST(coalesce(sum(tau * y) FILTER (WHERE s = 1), 0) AS BIGINT) AS sty2
      FROM seg GROUP BY 1
    )
    SELECT event_type, n_days, t0,
           CAST((((n1 * sty1 - st1 * sy1) // (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 // (n1 * stt1 - st1 * st1)) AS BIGINT) AS b_pre_milli,
           CAST((((n2 * sty2 - st2 * sy2) // (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 // (n2 * stt2 - st2 * st2)) AS BIGINT) AS b_post_milli,
           CAST(((((n2 * sty2 - st2 * sy2) // (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 // (n2 * stt2 - st2 * st2))) - ((((n1 * sty1 - st1 * sy1) // (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 // (n1 * stt1 - st1 * st1))) AS BIGINT) AS slope_change_milli,
           CAST(((sy1 * 1000 - ((((n1 * sty1 - st1 * sy1) // (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 // (n1 * stt1 - st1 * st1))) * st1) // n1) AS BIGINT) AS a_pre_milli,
           CAST(((sy2 * 1000 - ((((n2 * sty2 - st2 * sy2) // (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 // (n2 * stt2 - st2 * st2))) * st2) // n2) AS BIGINT) AS a_post_milli,
           CAST((((sy2 * 1000 - ((((n2 * sty2 - st2 * sy2) // (n2 * stt2 - st2 * st2)) * 1000 + ((n2 * sty2 - st2 * sy2) % (n2 * stt2 - st2 * st2)) * 1000 // (n2 * stt2 - st2 * st2))) * st2) // n2)) - ((((sy1 * 1000 - ((((n1 * sty1 - st1 * sy1) // (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 // (n1 * stt1 - st1 * st1))) * st1) // n1)) + ((((n1 * sty1 - st1 * sy1) // (n1 * stt1 - st1 * st1)) * 1000 + ((n1 * sty1 - st1 * sy1) % (n1 * stt1 - st1 * st1)) * 1000 // (n1 * stt1 - st1 * st1))) * t0) AS BIGINT)
             AS level_shift_milli
    FROM g ORDER BY event_type
""",
    doc=(
        "Interrupted time-series analysis per event type: an OLS "
        "segment before and after the midpoint intervention day T0 "
        "(post segment re-anchored at tau = t - T0), giving the "
        "slope CHANGE and the LEVEL SHIFT at T0 against the pre-trend "
        "counterfactual — the causal-inference workhorse when there "
        "is no control group (the complement of the DiD and CUPED "
        "queries). Slopes via the divmod-chained milli formula (exact "
        "at any magnitude); intercepts and the shift from the same "
        "quantized integers on identical expression text."
    ),
)
def events_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented (pre/post) regression with level-shift estimate.

    Scale notes (100 TB): the fact collapses to (type, day) then to
    one 12-integer power-sum row per type — segment membership is a
    projection, both segments accumulate in ONE combining aggregate
    (conditional sums), never two scans."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    daily = (
        ev.groupBy(
            "event_type",
            F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=False)  # (type, day) grain, 2 consumers
    )
    params = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"),
        F.expr(
            "CAST((max(d) - min(d) + 1) div 2 AS BIGINT)"
        ).alias("t0"),
    )
    seg = daily.join(F.broadcast(params), "event_type").select(
        "event_type",
        "t0",
        F.expr(
            "CASE WHEN d - d0 >= t0 THEN 1 ELSE 0 END"
        ).alias("s"),
        F.expr(
            "CAST(CASE WHEN d - d0 >= t0 THEN d - d0 - t0"
            " ELSE d - d0 END AS BIGINT)"
        ).alias("tau"),
        "y",
    )
    sums = []
    for sfx, sv in (("1", 0), ("2", 1)):
        sums += [
            F.expr(f"CAST(count_if(s = {sv}) AS BIGINT)").alias(f"n{sfx}"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN s = {sv} THEN tau END), 0)"
                " AS BIGINT)"
            ).alias(f"st{sfx}"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN s = {sv} THEN y END), 0)"
                " AS BIGINT)"
            ).alias(f"sy{sfx}"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN s = {sv} THEN tau * tau END),"
                " 0) AS BIGINT)"
            ).alias(f"stt{sfx}"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN s = {sv} THEN tau * y END),"
                " 0) AS BIGINT)"
            ).alias(f"sty{sfx}"),
        ]
    g = seg.groupBy("event_type").agg(
        F.min("t0").alias("t0"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        *sums,
    )
    return g.select(
        "event_type",
        "n_days",
        "t0",
        F.expr(f"CAST({_ITS_B1} AS BIGINT)").alias("b_pre_milli"),
        F.expr(f"CAST({_ITS_B2} AS BIGINT)").alias("b_post_milli"),
        F.expr(
            f"CAST(({_ITS_B2}) - ({_ITS_B1}) AS BIGINT)"
        ).alias("slope_change_milli"),
        F.expr(f"CAST({_ITS_A1} AS BIGINT)").alias("a_pre_milli"),
        F.expr(f"CAST({_ITS_A2} AS BIGINT)").alias("a_post_milli"),
        F.expr(
            f"CAST(({_ITS_A2}) - (({_ITS_A1}) + ({_ITS_B1}) * t0)"
            " AS BIGINT)"
        ).alias("level_shift_milli"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution (bit-shift half-life weights)
# ---------------------------------------------------------------------------

#: touch weight 2^(20 - min(days_to_purchase div 2, 20)): a 2-day
#: half-life as exact powers of two (the decayed-engagement recipe),
#: normalized per journey to ppm credit.
_TD_K = "least((pd - d) div 2, 20)"


@register(
    "events_attribution_time_decay",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS d,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) + 1 AS BIGINT) AS j,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id
             ) AS BIGINT) AS n_purch
      FROM events
    ),
    wd AS (
      SELECT user_id, event_type, j, n_purch,
             min(CASE WHEN event_type = 'purchase' THEN d END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS pd,
             d, ts, event_id
      FROM seq
    ),
    ww AS (
      SELECT user_id, event_type, j, n_purch,
             CAST(CASE WHEN event_type <> 'purchase' AND pd IS NOT NULL
               THEN (1::BIGINT << (20 - ({_TD_K.replace(' div ', ' // ')})))
               ELSE 0 END AS BIGINT) AS w
      FROM wd
    ),
    jn AS (
      SELECT user_id, event_type, j, n_purch, w,
             CAST(sum(w) OVER (PARTITION BY user_id, j) AS BIGINT) AS tw,
             CAST(count(*) FILTER (WHERE event_type <> 'purchase') OVER (
               PARTITION BY user_id, j) AS BIGINT) AS k
      FROM ww
    ),
    credited AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'direct'
                  ELSE event_type END AS channel,
             CAST(CASE WHEN event_type = 'purchase' THEN 1000000
                  ELSE w * 1000000 // tw END AS BIGINT) AS credit
      FROM jn
      WHERE (event_type <> 'purchase' AND j <= n_purch)
         OR (event_type = 'purchase' AND k = 0)
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit) // 1000 AS BIGINT) AS attributed_milli
    FROM credited GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Time-decay multi-touch attribution: each touch in a journey "
        "earns weight 2^(-days_to_purchase / 2-day-half-life) as an "
        "exact power of two, normalized per journey to ppm credit — "
        "recent touches dominate, completing the attribution family "
        "(last/position/Shapley/Markov). Touchless purchases credit "
        "'direct'; trailing journeys with no purchase are excluded. "
        "All windows share the user-keyed sort; no joins."
    ),
)
def events_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Half-life-decayed journey credit per channel (exact ppm).

    Scale notes (100 TB): ONE user-keyed window pass carries journey
    ids, the next-purchase day (following-frame min), decay weights
    and journey normalizers — no self-join, no second scan; output is
    |channels| rows."""
    ev = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    is_p = F.col("event_type") == "purchase"
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wu = Window.partitionBy("user_id")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    seq = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.expr(f"timestampdiff(DAY, {epoch}, ts)").alias("d"),
        (F.count(F.when(is_p, 1)).over(wp) + 1).cast("bigint").alias("j"),
        F.count(F.when(is_p, 1)).over(wu).cast("bigint").alias("n_purch"),
    )
    wd = seq.select(
        "user_id", "event_type", "j", "n_purch", "d", "ts", "event_id",
        F.min(F.when(is_p, F.col("d"))).over(wf).alias("pd"),
    )
    ww = wd.select(
        "user_id", "event_type", "j", "n_purch",
        F.expr(
            "CAST(CASE WHEN event_type <> 'purchase' AND pd IS NOT NULL"
            f" THEN shiftleft(1L, 20 - ({_TD_K}))"
            " ELSE 0 END AS BIGINT)"
        ).alias("w"),
    )
    wj = Window.partitionBy("user_id", "j")
    not_p = F.col("event_type") != "purchase"
    jn = ww.select(
        "user_id", "event_type", "j", "n_purch", "w",
        F.sum("w").over(wj).cast("bigint").alias("tw"),
        F.count(F.when(not_p, 1)).over(wj).cast("bigint").alias("k"),
    )
    credited = jn.filter(
        (not_p & (F.col("j") <= F.col("n_purch")))
        | (is_p & (F.col("k") == 0))
    ).select(
        F.when(is_p, F.lit("direct")).otherwise(F.col("event_type")).alias(
            "channel"
        ),
        F.expr(
            "CAST(CASE WHEN event_type = 'purchase' THEN 1000000"
            " ELSE w * 1000000 div tw END AS BIGINT)"
        ).alias("credit"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.expr(
                "CAST(sum(credit) div 1000 AS BIGINT)"
            ).alias("attributed_milli"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# SLO multiwindow burn-rate alerts (SRE error-budget policy)
# ---------------------------------------------------------------------------

#: Baseline-relative multiwindow burn policy: the error budget is the
#: service's own long-run error share (E/N in floored ppm — the same
#: integer formula on both engines, the data-derived-parameter
#: discipline), and an alert fires when the 6h share exceeds 1.15x
#: baseline AND the 24h share exceeds 1.05x — the Google-SRE
#: multiwindow shape (short window responds, long window suppresses
#: blips), made scale-proof: every comparison is between bounded
#: floored-ppm integers (divmod chain), never a raw cross-product of
#: window and global counts.
_SLO_SHARE = "((e{w} div n{w}) * 1000000 + (e{w} % n{w}) * 1000000 div n{w})"
_SLO_BASE = "((etot div ntot) * 1000000 + (etot % ntot) * 1000000 div ntot)"


@register(
    "events_slo_burn_alerts",
    f"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE event_type = 'error')
               AS BIGINT) AS e
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(n) AS BIGINT) AS ntot,
             CAST(sum(e) AS BIGINT) AS etot
      FROM h
    ),
    w AS (
      SELECT hr,
             CAST(sum(n) OVER (ORDER BY hr
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n6,
             CAST(sum(e) OVER (ORDER BY hr
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6,
             CAST(sum(n) OVER (ORDER BY hr
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS n24,
             CAST(sum(e) OVER (ORDER BY hr
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS e24
      FROM h
    )
    SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
           e6, n6, e24, n24,
           CAST({_SLO_SHARE.format(w="6").replace(" div ", " // ")}
             AS BIGINT) AS share_6h_ppm,
           CAST({_SLO_SHARE.format(w="24").replace(" div ", " // ")}
             AS BIGINT) AS share_24h_ppm,
           CAST({_SLO_BASE.replace(" div ", " // ")} AS BIGINT)
             AS baseline_ppm
    FROM w CROSS JOIN g
    WHERE {_SLO_SHARE.format(w="6").replace(" div ", " // ")}
            >= ({_SLO_BASE.replace(" div ", " // ")}) * 115 // 100
      AND {_SLO_SHARE.format(w="24").replace(" div ", " // ")}
            >= ({_SLO_BASE.replace(" div ", " // ")}) * 105 // 100
    ORDER BY hour
    """,
    doc=(
        "SLO error-budget burn-rate alerting (the SRE multiwindow "
        "multiburn policy) with a BASELINE-RELATIVE budget: the "
        "service's long-run error share (exact floored ppm, computed "
        "identically in both engines) is the budget, a 6h window must "
        "burn >= 1.15x it AND a 24h window >= 1.05x for an alert row "
        "— short window responds fast, long window suppresses blips. "
        "All decisions compare bounded divmod-chained ppm integers, "
        "so the policy survives any traffic magnitude."
    ),
)
def events_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow burn-rate alert rows (baseline-relative, exact).

    Scale notes (100 TB): the fact collapses to hourly counts in one
    aggregate; the global baseline is a 1-row broadcast; both rolling
    windows share ONE ordered pass over the |hours| table. Alerts
    are a filter over that pass, not a join."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("e"),
    ).localCheckpoint(eager=False)  # hourly grain: windows + baseline
    g = h.agg(
        F.sum("n").cast("bigint").alias("ntot"),
        F.sum("e").cast("bigint").alias("etot"),
    )
    w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    w24 = Window.orderBy("hr").rowsBetween(-23, 0)
    w = h.select(
        "hr",
        F.sum("n").over(w6).cast("bigint").alias("n6"),
        F.sum("e").over(w6).cast("bigint").alias("e6"),
        F.sum("n").over(w24).cast("bigint").alias("n24"),
        F.sum("e").over(w24).cast("bigint").alias("e24"),
    )
    s6 = _SLO_SHARE.format(w="6")
    s24 = _SLO_SHARE.format(w="24")
    return (
        w.crossJoin(F.broadcast(g))
        .filter(
            F.expr(
                f"{s6} >= ({_SLO_BASE}) * 115 div 100"
                f" AND {s24} >= ({_SLO_BASE}) * 105 div 100"
            )
        )
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "e6", "n6", "e24", "n24",
            F.expr(f"CAST({s6} AS BIGINT)").alias("share_6h_ppm"),
            F.expr(f"CAST({s24} AS BIGINT)").alias("share_24h_ppm"),
            F.expr(f"CAST({_SLO_BASE} AS BIGINT)").alias("baseline_ppm"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Sequence-motif matching over per-journey event strings
# (the MATCH_RECOGNIZE shape, regex-encoded)
# ---------------------------------------------------------------------------

#: simple, backtracking-free motifs — leftmost-first non-overlapping
#: scan counts agree between Java regex (Spark) and RE2 (DuckDB) for
#: this class; event types map to distinct first letters
#: (c=click, e=error, p=purchase, s=signup, v=view)
_MOTIFS = (
    ("cp", "click_then_purchase_adjacent"),
    ("c[ve]*p", "click_to_purchase_browsing"),
    ("e{2,}", "error_burst"),
)


@register(
    "events_pattern_regex",
    f"""
    WITH j AS (
      SELECT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY 1, 2
    ),
    pats(pat, motif) AS (VALUES {", ".join(
        f"('{p}', '{m}')" for p, m in _MOTIFS)}),
    hits AS (
      SELECT p.motif,
             CASE WHEN len(regexp_extract_all(j.journey, p.pat)) > 0
                  THEN 1 ELSE 0 END AS has_m,
             len(regexp_extract_all(j.journey, p.pat)) AS n_occ
      FROM j CROSS JOIN pats p
    )
    SELECT motif,
           CAST(sum(has_m) AS BIGINT) AS n_journeys_matched,
           CAST(sum(n_occ) AS BIGINT) AS n_occurrences
    FROM hits GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "MATCH_RECOGNIZE-style sequence-pattern matching, regex-encoded: "
        "each (user, day) journey becomes a string of event-type "
        "initials ordered by (ts, event_id), and canonical motifs "
        "(adjacent click->purchase, click->purchase across browsing, "
        "2+ consecutive errors) are counted with non-overlapping regex "
        "scans. Motifs are deliberately backtracking-free so Java regex "
        "and RE2 produce identical leftmost-first match counts — the "
        "journey-string trick turns arbitrary sequence analytics into "
        "one groupBy plus a projection, no self-joins per step."
    ),
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex sequence motifs over per-journey event strings.

    Scale notes (100 TB): one shuffle to the (user, day) grain — the
    journey string is bounded by per-day activity, and every motif is
    evaluated in the same projection pass (patterns broadcast via
    explode, not one job per motif)."""
    ev = load_table(spark, sf_dir, "events")
    j = ev.groupBy(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_idx"),
    ).agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list("
            "struct(ts, event_id, substring(event_type, 1, 1) AS ch))),"
            " x -> x.ch))"
        ).alias("journey")
    )
    pats = F.expr(
        "array("
        + ", ".join(
            f"named_struct('pat', '{p}', 'motif', '{m}')" for p, m in _MOTIFS
        )
        + ")"
    )
    hits = j.select(
        "journey", F.explode(pats).alias("p")
    ).select(
        F.col("p.motif").alias("motif"),
        F.expr("regexp_count(journey, p.pat)").alias("n_occ"),
    )
    return (
        hits.groupBy("motif")
        .agg(
            F.sum(F.expr("CASE WHEN n_occ > 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_journeys_matched"),
            F.sum("n_occ").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("motif")
    )


@register(
    "events_delta_encoding_audit",
    """
    WITH s AS (
      SELECT event_type, user_id,
             epoch_us(ts) // 1000000 AS sec,
             event_id
      FROM events
    ),
    d AS (
      SELECT event_type, user_id, sec,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             sec - lag(sec) OVER w AS dlt
      FROM s
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY sec, event_id)
    ),
    dod AS (
      SELECT event_type, rn,
             CASE WHEN rn = 1 THEN NULL
                  ELSE dlt - coalesce(lag(dlt) OVER w2, 0) END AS dd
      FROM d
      WINDOW w2 AS (PARTITION BY user_id, event_type ORDER BY rn)
    ),
    bits AS (
      SELECT event_type, rn,
             CASE WHEN rn = 1 THEN 64
                  WHEN dd = 0 THEN 1
                  WHEN abs(dd) <= 64 THEN 9
                  WHEN abs(dd) <= 256 THEN 12
                  WHEN abs(dd) <= 2048 THEN 16
                  ELSE 36 END AS b,
             dd
      FROM dod
    )
    SELECT event_type,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_series,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rn > 1 AND dd = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dod0,
           CAST(sum(CASE WHEN rn > 1 AND dd <> 0 AND abs(dd) <= 64
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dod7,
           CAST(sum(CASE WHEN abs(dd) > 64 AND abs(dd) <= 256
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dod9,
           CAST(sum(CASE WHEN abs(dd) > 256 AND abs(dd) <= 2048
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dod12,
           CAST(sum(CASE WHEN abs(dd) > 2048 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dod32,
           CAST(sum(b) AS BIGINT) AS bits_total,
           CAST(sum(b) * 1000000 // (64 * count(*)) AS BIGINT)
             AS compression_ppm
    FROM bits GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Gorilla-style delta-of-delta timestamp compression audit (the "
        "Facebook Gorilla / Prometheus TSDB encoding): per (user, "
        "event_type) series ordered by second, the second difference "
        "of timestamps is bucketed into the paper's variable-width "
        "bit classes (0 -> 1 bit, +/-64 -> 9, +/-256 -> 12, +/-2048 "
        "-> 16, else 36; series header 64) and the census reports "
        "exact bits and compression ppm per event type — the storage "
        "planner's answer to 'what would a TSDB encoding save on this "
        "event stream'. All-integer second arithmetic, engine-exact."
    ),
)
def events_delta_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-of-delta bit-class census over event series.

    Scale notes (100 TB): ONE shuffle to (user_id, event_type) series
    partitions; both lags share a single WindowSpec sort; the census
    is a combining aggregate on event_type. bits_total * 1e6 stays in
    BIGINT below ~1.4e11 events per type — divmod-chain beyond that."""
    e = load_table(spark, sf_dir, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    s = e.select(
        "event_type",
        "user_id",
        F.expr(
            f"CAST(timestampdiff(MICROSECOND, {epoch}, ts) AS BIGINT)"
            " div 1000000"
        ).alias("sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    d = s.select(
        "event_type",
        "user_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        (F.col("sec") - F.lag("sec").over(w)).alias("dlt"),
    )
    dod = d.select(
        "event_type",
        "rn",
        F.expr(
            "CASE WHEN rn = 1 THEN CAST(NULL AS BIGINT) ELSE dlt - "
            "coalesce(lag(dlt) OVER (PARTITION BY user_id, event_type"
            " ORDER BY rn), 0) END"
        ).alias("dd"),
    )
    bits = dod.select(
        "event_type",
        "rn",
        "dd",
        F.expr(
            "CASE WHEN rn = 1 THEN 64 WHEN dd = 0 THEN 1"
            " WHEN abs(dd) <= 64 THEN 9 WHEN abs(dd) <= 256 THEN 12"
            " WHEN abs(dd) <= 2048 THEN 16 ELSE 36 END"
        ).alias("b"),
    )
    return (
        bits.groupBy("event_type")
        .agg(
            F.sum(F.expr("CASE WHEN rn = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_series"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.expr("CASE WHEN rn > 1 AND dd = 0 THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_dod0"),
            F.sum(
                F.expr(
                    "CASE WHEN rn > 1 AND dd <> 0 AND abs(dd) <= 64"
                    " THEN 1 ELSE 0 END"
                )
            ).cast("bigint").alias("n_dod7"),
            F.sum(
                F.expr(
                    "CASE WHEN abs(dd) > 64 AND abs(dd) <= 256"
                    " THEN 1 ELSE 0 END"
                )
            ).cast("bigint").alias("n_dod9"),
            F.sum(
                F.expr(
                    "CASE WHEN abs(dd) > 256 AND abs(dd) <= 2048"
                    " THEN 1 ELSE 0 END"
                )
            ).cast("bigint").alias("n_dod12"),
            F.sum(
                F.expr("CASE WHEN abs(dd) > 2048 THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_dod32"),
            F.sum("b").cast("bigint").alias("bits_total"),
            F.expr(
                "CAST(sum(b) * 1000000 div (64 * count(*)) AS BIGINT)"
            ).alias("compression_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Automatic worst-slice detection (SliceFinder-style) — round 13
# ---------------------------------------------------------------------------

_SLF_TOP = 10


@register(
    "events_slice_finder",
    f"""
    WITH ev AS (
      SELECT CAST((datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) + 3)
                  % 7 AS BIGINT) AS weekday,
             CAST((datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
                   % 24) // 6 AS BIGINT) AS hourbin,
             CAST(user_id % 10 AS BIGINT) AS cohort,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ), gstat AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(is_err) * 1000000 // count(*) AS BIGINT) AS global_ppm
      FROM ev
    ), slices AS (
      SELECT weekday, hourbin, cohort,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(is_err) AS BIGINT) AS n_errors,
             CAST(sum(is_err) * 1000000 // count(*) AS BIGINT) AS rate_ppm
      FROM ev
      GROUP BY GROUPING SETS ((weekday), (hourbin), (cohort),
                              (weekday, hourbin), (weekday, cohort),
                              (hourbin, cohort))
    )
    SELECT * FROM (
      SELECT CAST(coalesce(s.weekday, -1) AS BIGINT) AS weekday,
             CAST(coalesce(s.hourbin, -1) AS BIGINT) AS hourbin,
             CAST(coalesce(s.cohort, -1) AS BIGINT) AS cohort,
             s.n_events, s.n_errors, s.rate_ppm, g.global_ppm,
             CAST(((s.rate_ppm - g.global_ppm) // 100) * s.n_events
                  AS BIGINT) AS score
      FROM slices s CROSS JOIN gstat g
      WHERE s.n_events * 20 >= g.n_total
    ) t
    ORDER BY score DESC, weekday, hourbin, cohort
    LIMIT {_SLF_TOP}
    """,
    doc=(
        "Automatic worst-slice detection (the SliceFinder / Scorpion "
        "data-debugging primitive): all 1- and 2-dimension slices over "
        "(weekday, 6h-hour-bin, user-cohort) are materialized in ONE "
        "fact pass via GROUPING SETS (a single shuffle through the "
        "Expand operator — never 6 groupBys), slices below 5% support "
        "are dropped (integer cross-multiplication), and each slice is "
        "scored by error-rate deviation x support: "
        "((rate - global)/100) * n — deviation quantized to 1e-4 "
        "BEFORE the support product so the score never outgrows "
        "BIGINT at any slice size. Top-10 slices by score. The 'which "
        "segment is broken' question every on-call pipeline asks."
    ),
)
def events_slice_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 error-lift slices over 1- and 2-dim conjunctions.

    Scale notes (100 TB): one fact scan for the GROUPING SETS Expand
    (6x row multiplication inside the shuffle, grouped immediately),
    one scalar aggregate for the global rate (broadcast crossJoin);
    the slice table is bounded by the dimension cardinalities
    (7 + 4 + 10 + 28 + 70 + 40 rows), so scoring and top-10 are
    metadata-scale."""
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            f"CAST((timestampdiff(DAY, {epoch}, ts) + 3) % 7 AS BIGINT)"
        ).alias("weekday"),
        F.expr(
            f"CAST((timestampdiff(HOUR, {epoch}, ts) % 24) div 6 AS BIGINT)"
        ).alias("hourbin"),
        F.expr("CAST(user_id % 10 AS BIGINT)").alias("cohort"),
        F.expr(
            "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"
        ).alias("is_err"),
    )
    glob = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.expr("sum(is_err) * 1000000 div count(*)")
        .cast("bigint")
        .alias("global_ppm"),
    )
    slices = ev.groupingSets(
        [
            ["weekday"],
            ["hourbin"],
            ["cohort"],
            ["weekday", "hourbin"],
            ["weekday", "cohort"],
            ["hourbin", "cohort"],
        ],
        "weekday",
        "hourbin",
        "cohort",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_err").cast("bigint").alias("n_errors"),
        F.expr("sum(is_err) * 1000000 div count(*)")
        .cast("bigint")
        .alias("rate_ppm"),
    )
    return (
        slices.crossJoin(F.broadcast(glob))
        .filter(F.expr("n_events * 20 >= n_total"))
        .select(
            F.expr("CAST(coalesce(weekday, -1) AS BIGINT)").alias("weekday"),
            F.expr("CAST(coalesce(hourbin, -1) AS BIGINT)").alias("hourbin"),
            F.expr("CAST(coalesce(cohort, -1) AS BIGINT)").alias("cohort"),
            "n_events",
            "n_errors",
            "rate_ppm",
            "global_ppm",
            F.expr(
                "CAST(((rate_ppm - global_ppm) div 100) * n_events"
                " AS BIGINT)"
            ).alias("score"),
        )
        .orderBy(
            F.desc("score"), F.asc("weekday"), F.asc("hourbin"),
            F.asc("cohort"),
        )
        .limit(_SLF_TOP)
    )


# ---------------------------------------------------------------------------
# Regression discontinuity (sharp, local linear) — round 13
# ---------------------------------------------------------------------------

_RD_CUT = 50   # cutoff on the running variable user_id % 100
_RD_BW = 20    # bandwidth: |x - c| < 20


def _rd_chain(num: str, den: str, div: str) -> str:
    """num * 1e6 / den in micro units via the 3-stage *100 divmod
    chain (round-5 overflow discipline) — every intermediate product
    is bounded by |den| * 100. Both engines truncate division and %
    toward zero, so the chain is engine-exact for either sign; the
    only per-engine token is the integer-division operator."""
    return (
        f"(({num}) {div} ({den})) * 1000000"
        f" + (((({num}) % ({den})) * 100) {div} ({den})) * 10000"
        f" + (((((({num}) % ({den})) * 100) % ({den})) * 100)"
        f" {div} ({den})) * 100"
        f" + (((((((({num}) % ({den})) * 100) % ({den})) * 100)"
        f" % ({den})) * 100) {div} ({den}))"
    )


def _rd_side_exprs(side: str) -> dict[str, str]:
    f = f"CASE WHEN side = '{side}' THEN {{v}} ELSE 0 END"
    return {
        "n": f"sum({f.format(v='1')})",
        "su": f"sum({f.format(v='u')})",
        "suu": f"sum({f.format(v='u * u')})",
        "sy": f"sum({f.format(v='y')})",
        "suy": f"sum({f.format(v='u * y')})",
    }


def _rd_select(div: str) -> str:
    parts = []
    for side in ("l", "r"):
        e = _rd_side_exprs(side)
        num = f"({e['sy']} * {e['suu']} - {e['su']} * {e['suy']})"
        den = f"({e['n']} * {e['suu']} - {e['su']} * {e['su']})"
        parts.append(f"CAST({e['n']} AS BIGINT) AS n_{side}")
        parts.append(
            f"CAST({_rd_chain(num, den, div)} AS BIGINT)"
            f" AS yhat_{side}_micro"
        )
    return ",\n           ".join(parts)


@register(
    "events_regression_discontinuity",
    f"""
    WITH base AS (
      SELECT user_id % 100 - {_RD_CUT} AS u,
             CAST(round(value * 100) AS BIGINT) AS y,
             CASE WHEN user_id % 100 >= {_RD_CUT} THEN 'r' ELSE 'l' END
               AS side
      FROM events
      WHERE abs(user_id % 100 - {_RD_CUT}) < {_RD_BW}
    ), s AS (
      SELECT {_rd_select('//')}
      FROM base
    )
    SELECT n_l, n_r, yhat_l_micro, yhat_r_micro,
           CAST(yhat_r_micro - yhat_l_micro AS BIGINT) AS tau_micro
    FROM s
    """,
    doc=(
        "Sharp regression-discontinuity estimate: the running "
        "variable user_id%100 is cut at 50, a LOCAL LINEAR fit on "
        "each side of the cutoff (bandwidth 20) extrapolates the "
        "outcome (event value in cents) to the boundary, and tau = "
        "the jump between the two intercepts. Centering at the "
        "cutoff makes the OLS intercept the estimand directly "
        "((Sy*Suu - Su*Suy)/(n*Suu - Su^2), all exact BIGINT sums); "
        "the micro-unit quotient runs through the 3-stage *100 "
        "divmod chain so nothing outgrows BIGINT at any row count. "
        "Completes the causal toolkit next to DiD and interrupted-TS."
    ),
)
def events_regression_discontinuity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local-linear RD: boundary intercepts per side + the jump.

    Scale notes (100 TB): one fact scan, one combining aggregate of
    ten CASE-filtered integer power sums (map-side partials), one
    scalar projection for the quotient chains — nothing after the
    aggregate scales with data."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.expr(f"abs(user_id % 100 - {_RD_CUT}) < {_RD_BW}"))
        .select(
            F.expr(f"user_id % 100 - {_RD_CUT}").alias("u"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
            F.expr(
                f"CASE WHEN user_id % 100 >= {_RD_CUT} THEN 'r'"
                " ELSE 'l' END"
            ).alias("side"),
        )
    )
    parts = [
        p.replace("\n           ", " ")
        for p in _rd_select("div").split(",\n           ")
    ]
    return base.selectExpr(*parts).selectExpr(
        "n_l",
        "n_r",
        "yhat_l_micro",
        "yhat_r_micro",
        "CAST(yhat_r_micro - yhat_l_micro AS BIGINT) AS tau_micro",
    )


# ---------------------------------------------------------------------------
# Multiple-testing correction: Benjamini-Hochberg over permutation
# p-values — round 13
# ---------------------------------------------------------------------------

_FDR_B = 40      # permutations per hypothesis
_FDR_Q10 = 1     # FDR level q = _FDR_Q10 / 10 = 0.10


@register(
    "events_fdr_bh",
    f"""
    WITH put AS (
      SELECT user_id, event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    obs AS (
      SELECT event_type,
             abs(sum(CASE WHEN {_PERM_ASSIGN_DUCK.format(k="'obs'")} = 1
                     THEN cents ELSE -cents END)) AS observed
      FROM put GROUP BY 1
    ),
    perms AS (
      SELECT event_type, k.k,
             abs(sum(CASE WHEN {_PERM_ASSIGN_DUCK.format(k="k.k")} = 1
                     THEN cents ELSE -cents END)) AS stat
      FROM put CROSS JOIN (
        SELECT unnest(range(0, {_FDR_B})) AS k) k
      GROUP BY 1, 2
    ),
    pv AS (
      SELECT o.event_type,
             CAST(o.observed AS BIGINT) AS observed_cents,
             CAST(sum(CASE WHEN p.stat >= o.observed THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_extreme
      FROM perms p JOIN obs o ON p.event_type = o.event_type
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, observed_cents, n_extreme,
             CAST((1 + n_extreme) * 1000 // ({_FDR_B} + 1) AS BIGINT)
               AS p_milli,
             CAST(row_number() OVER (
               ORDER BY n_extreme, event_type) AS BIGINT) AS bh_rank,
             CASE WHEN (1 + n_extreme) * 10
                       * (SELECT count(*) FROM pv)
                       <= bh_rank_inner * ({_FDR_B} + 1) * {_FDR_Q10}
                  THEN 1 ELSE 0 END AS passes
      FROM (
        SELECT pv.*, row_number() OVER (ORDER BY n_extreme, event_type)
                 AS bh_rank_inner
        FROM pv
      ) t
    )
    SELECT event_type, observed_cents, n_extreme, p_milli, bh_rank,
           CAST(CASE WHEN bh_rank <= (SELECT coalesce(max(
                  CASE WHEN passes = 1 THEN bh_rank END), 0) FROM ranked)
                THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM ranked ORDER BY event_type
    """,
    doc=(
        "Benjamini-Hochberg FDR correction over m=5 simultaneous "
        "permutation tests (one per event type: A/B revenue "
        "difference under the md5-derandomised split). Permutation "
        "p-values are exact rationals (1+n_extreme)/(B+1), the BH "
        "step-up condition p_(k) <= k*q/m is evaluated as the integer "
        "cross-multiplication (1+c)*10*m <= k*(B+1), and rejection "
        "propagates to all ranks <= k* — fully engine-exact with NO "
        "distributional assumptions or transcendentals. The guard "
        "every slice-scanning pipeline needs before acting on its "
        "'significant' segments."
    ),
)
def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type permutation tests + exact BH step-up at q=0.10.

    Scale notes (100 TB): the fact collapses to (user, type) grain
    once; the 41 relabelings ride a broadcast crossJoin over that
    bounded grain (map-side md5 + one combining aggregate keyed on
    (type, seed)); everything after is a 5-row window."""
    put = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint(eager=False)  # obs + perms branches share it
    )
    obs = put.groupBy("event_type").agg(
        F.expr(
            f"abs(sum(CASE WHEN {_PERM_ASSIGN_SPARK.format(k=chr(39) + 'obs' + chr(39))} = 1"
            " THEN cents ELSE -cents END))"
        ).alias("observed")
    )
    seeds = F.broadcast(
        put.sparkSession.range(_FDR_B).select(F.col("id").alias("k"))
    )
    perms = (
        put.crossJoin(seeds)
        .groupBy("event_type", "k")
        .agg(
            F.expr(
                f"abs(sum(CASE WHEN {_PERM_ASSIGN_SPARK.format(k='k')} = 1"
                " THEN cents ELSE -cents END))"
            ).alias("stat")
        )
    )
    pv = (
        perms.join(F.broadcast(obs), "event_type")
        .groupBy("event_type", "observed")
        .agg(
            F.expr("sum(CASE WHEN stat >= observed THEN 1 ELSE 0 END)")
            .cast("bigint")
            .alias("n_extreme")
        )
        .select(
            "event_type",
            F.col("observed").cast("bigint").alias("observed_cents"),
            "n_extreme",
        )
    )
    wm = Window.partitionBy(F.lit(1))
    wr = Window.partitionBy(F.lit(1)).orderBy("n_extreme", "event_type")
    ranked = pv.select(
        "event_type",
        "observed_cents",
        "n_extreme",
        F.expr(f"CAST((1 + n_extreme) * 1000 div ({_FDR_B} + 1) AS BIGINT)")
        .alias("p_milli"),
        F.row_number().over(wr).cast("bigint").alias("bh_rank"),
        F.count(F.lit(1)).over(wm).alias("__m"),
    ).select(
        "event_type",
        "observed_cents",
        "n_extreme",
        "p_milli",
        "bh_rank",
        F.expr(
            f"CASE WHEN (1 + n_extreme) * 10 * __m"
            f" <= bh_rank * ({_FDR_B} + 1) * {_FDR_Q10}"
            " THEN 1 ELSE 0 END"
        ).alias("passes"),
    )
    kstar = ranked.agg(
        F.expr(
            "coalesce(max(CASE WHEN passes = 1 THEN bh_rank END), 0)"
        ).alias("__kstar")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "event_type",
            "observed_cents",
            "n_extreme",
            "p_milli",
            "bh_rank",
            F.expr("CAST(CASE WHEN bh_rank <= __kstar THEN 1 ELSE 0 END"
                   " AS BIGINT)").alias("rejected"),
        )
        .orderBy("event_type")
    )
