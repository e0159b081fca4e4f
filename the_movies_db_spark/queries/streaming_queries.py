"""Streaming queries for the driver gate: each runs a REAL Structured
Streaming job (file source → windowed stateful agg → AvailableNow →
memory sink) and returns the materialized result, which is then
value-hashed against plain batch SQL — a bounded replay is
deterministic, so streaming and batch must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from the_movies_db_spark.operators import bitmap as B
from the_movies_db_spark.queries import register
from the_movies_db_spark.streaming import events as E


@register(
    "streaming_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "Tumbling-window streaming aggregation with watermark, executed "
        "AvailableNow — must equal the batch GROUP BY hour exactly."
    ),
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = E.read_events_stream(spark, sf_dir)
    out = E.run_available_now(E.tumbling_agg(stream))
    return E.to_ntz(out, "window_start")


@register(
    "streaming_session_window",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM gaps
    )
    SELECT min(ts)              AS session_start,
           user_id,
           count(*)             AS n_events,
           round(sum(value), 2) AS session_value
    FROM sess
    GROUP BY user_id, sid
    """,
    doc=(
        "F.session_window stateful streaming sessionization (30-min gap), "
        "verified against the batch lag/cumsum sessionization SQL."
    ),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = E.read_events_stream(spark, sf_dir)
    out = E.run_available_now(E.session_agg(stream))
    return E.to_ntz(out, "session_start")


@register(
    "streaming_dedup",
    """
    SELECT count(*) AS n_events FROM events
    """,
    doc=(
        "dropDuplicatesWithinWatermark stateful dedup: the stream is "
        "unioned with itself (every event arrives twice) and the deduped "
        "count must equal the batch count(*) exactly."
    ),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    doubled = E.read_events_stream(spark, sf_dir).union(
        E.read_events_stream(spark, sf_dir)
    )
    deduped = E.dedup_within_watermark(doubled)
    counted = deduped.groupBy().agg(F.count(F.lit(1)).alias("n_events"))
    return E.run_available_now(counted)


@register(
    "streaming_sliding",
    """
    WITH b AS (
      SELECT event_type,
             date_trunc('hour', ts)
               + CASE WHEN extract(minute FROM ts) >= 30
                      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS s1
      FROM events
    ), w AS (
      SELECT event_type, s1 AS window_start FROM b
      UNION ALL
      SELECT event_type, s1 - INTERVAL 30 MINUTE AS window_start FROM b
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
    doc=(
        "Sliding-window (1h window / 30min slide) streaming aggregation — "
        "every event lands in exactly two overlapping windows; verified "
        "against the batch double-bucket expansion."
    ),
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = E.read_events_stream(spark, sf_dir)
    out = E.run_available_now(E.sliding_agg(stream))
    return E.to_ntz(out, "window_start")


@register(
    "streaming_foreachbatch_upsert",
    """
    SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "foreachBatch upsert sink: each micro-batch MERGEs into a parquet "
        "target keyed on event_id (the reference's per-run MERGE loop, "
        "etl.py:88-183, as a streaming sink); the final table must equal "
        "the batch input exactly."
    ),
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import scratch_dir

    target = scratch_dir("fbupsert") + "/events_tbl"
    stream = E.read_events_stream(spark, sf_dir)
    E.run_foreach_batch_available_now(
        stream, E.foreach_batch_upsert(target, pk="event_id", order_col="ts")
    )
    from the_movies_db_spark.upsert import read_table

    return (
        read_table(spark, target)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "streaming_incremental_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=(
        "Incremental materialized-view maintenance: the events stream "
        "is replayed in 4 micro-batches (maxFilesPerTrigger=1 over a "
        "4-file copy); each batch is aggregated to the rollup grain and "
        "ADDITIVELY merged into a parquet rollup table via foreachBatch "
        "— the fact history is never re-read, and the final table must "
        "equal the one-shot batch GROUP BY exactly."
    ),
)
def streaming_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table, scratch_dir
    from the_movies_db_spark.upsert import (
        additive_upsert,
        read_table,
        rewrite_table,
    )

    work = scratch_dir("incroll")
    src = f"{work}/src"
    target = f"{work}/rollup"
    # stage the events as 4 files so AvailableNow + maxFilesPerTrigger=1
    # genuinely replays 4 micro-batches
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    keys = ["window_start", "event_type"]

    def maintain(batch_df, batch_id: int) -> None:
        delta = (
            batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
        )
        rewrite_table(
            batch_df.sparkSession,
            target,
            lambda cur: delta if cur is None else additive_upsert(
                cur, delta, keys, ["n_events", "sum_value"]
            ),
        )

    E.run_foreach_batch_available_now(stream, maintain)
    return read_table(spark, target).select(
        "window_start",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("total_value"),
    )


@register(
    "streaming_stateful_counter",
    """
    SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Custom stateful streaming operator via applyInPandasWithState: "
        "per-event-type running (count, sum) state across micro-batches, "
        "final state verified against the batch GROUP BY."
    ),
)
def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = E.read_events_stream(spark, sf_dir)
    return E.run_available_now(E.stateful_running_totals(stream), output_mode="update")


# NOTE: a transformWithStateInPandas variant of the stateful counter
# exists as an operator (streaming/events.py:tws_running_totals — the
# Spark 4 successor API, RocksDB-backed) but is NOT registered here:
# its state-server protocol requires the `protobuf` Python package,
# which this environment does not ship (no installs allowed). The
# operator is import-gated and covered by a skip-marked test
# (tests/test_streaming.py) so the surface is exercised wherever
# protobuf is available.


@register(
    "streaming_stream_join",
    """
    SELECT c.user_id,
           count(*) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
    doc=(
        "Stream-stream interval join: clicks joined to purchases of the "
        "same user within 30 minutes, both sides watermarked so the join "
        "state is bounded (Spark buffers each side only until the other "
        "side's watermark passes the interval) — verified against the "
        "batch self-join."
    ),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    clicks = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    # append-mode stream-stream join → aggregate the materialized pairs
    pairs = E.run_available_now(joined, output_mode="append")
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "streaming_static_join",
    """
    WITH dim AS (
      SELECT user_id,
             CASE WHEN count(*) >= 40 THEN 'heavy'
                  WHEN count(*) >= 20 THEN 'regular'
                  ELSE 'light' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT d.tier, e.event_type,
           count(*)             AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY 1, 2
    """,
    doc=(
        "Stream-static enrichment join (the remaining §2.10 join shape "
        "beside stream-stream): each micro-batch broadcast-joins a "
        "static user-tier dimension (re-resolved per batch, so slowly "
        "changing dims refresh for free), then aggregates by tier. "
        "Tiers derive from integer event counts, never float sums, so "
        "the assignment is exact in both engines."
    ),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "user_id",
            F.when(F.col("__n") >= 40, "heavy")
            .when(F.col("__n") >= 20, "regular")
            .otherwise("light")
            .alias("tier"),
        )
    )
    stream = E.read_events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return E.run_available_now(agg, output_mode="complete")


def _dedup_admission_oracle() -> str:
    from the_movies_db_spark.queries.dedup_queries import (
        _BANDS,
        _NUM_BANDS,
        _SHINGLES,
        _SIG,
    )

    pairs = " UNION ".join(
        f"SELECT a.doc_id AS doc_id FROM banded a JOIN banded b"
        f" ON a.b{j} = b.b{j} AND a.doc_id > b.doc_id"
        for j in range(_NUM_BANDS)
    )
    return f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    sig AS (SELECT doc_id, sh, {_SIG} FROM sh),
    banded AS (SELECT doc_id, {_BANDS} FROM sig),
    rejected AS (SELECT DISTINCT doc_id FROM ({pairs})),
    flagged AS (
      SELECT d.source,
             CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rej
      FROM documents d LEFT JOIN rejected r ON d.doc_id = r.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(rej) AS BIGINT)        AS n_rejected,
           CAST(count(*) - sum(rej) AS BIGINT) AS n_admitted
    FROM flagged GROUP BY source
    """


@register(
    "streaming_dedup_admission",
    _dedup_admission_oracle(),
    doc=(
        "Streaming near-dup admission: the MinHash band-signature INDEX "
        "is maintained by a real stream (each micro-batch appends its "
        "docs' bands — order-independent), then admission applies "
        "first-writer-wins: a doc is rejected iff it shares a band with "
        "any smaller-id doc. Final per-source counts must equal the "
        "batch SQL exactly."
    ),
)
def streaming_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-maintained LSH index + deterministic admission.

    The production composition this pins: ingest micro-batches extend
    the banded-signature table incrementally (an APPEND of O(batch)
    rows — the fact corpus is never re-shingled), and admission
    decisions join against the accumulated index. The decision rule is
    order-independent (first-writer-wins BY DOC ID, not by arrival), so
    a bounded replay is deterministic and value-hashes against the
    batch formulation — the same discipline every streaming entry here
    follows.

    Scale notes (100 TB): the index append is O(batch x bands); the
    rejection join is the banded equi-join (candidates only, never
    all-pairs), and at rest the index is bucketed by band_hash so the
    join co-locates. State lives in the table, not executor memory —
    the stream itself is stateless.
    """
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table, scratch_dir
    from the_movies_db_spark.operators import dedup as D
    from the_movies_db_spark.queries.dedup_queries import _NUM_BANDS, _NUM_HASHES

    work = scratch_dir("streamdedup")
    src, idx_dir = f"{work}/src", f"{work}/bandidx"
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def maintain(batch_df, batch_id: int) -> None:
        sig = D.banded_minhash_signatures(
            batch_df, "doc_id", "text", _NUM_HASHES, _NUM_BANDS, 3
        ).select(F.col("__id").alias("doc_id"), "band_idx", "band_hash")
        sig.write.mode("append").parquet(idx_dir)

    E.run_foreach_batch_available_now(stream, maintain)

    idx = spark.read.parquet(idx_dir)
    a, b = idx.alias("a"), idx.alias("b")
    rejected = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    flagged = docs.join(
        rejected.withColumn("rej", F.lit(1)), "doc_id", "left"
    ).select("source", F.coalesce("rej", F.lit(0)).alias("rej"))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("rej").cast("bigint").alias("n_rejected"),
        (F.count(F.lit(1)) - F.sum("rej")).cast("bigint").alias("n_admitted"),
    )


@register(
    "streaming_append_closed",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
    doc=(
        "APPEND-mode watermark finalization: the tumbling aggregate "
        "emits a window exactly once, when the watermark (max event "
        "time - 1h) passes its END — the open tail stays in state and "
        "never reaches the sink. The oracle is the batch aggregate "
        "HAVING window_end <= max(ts) - 1h, so driver equality pins "
        "the emit-once-closed contract (boundary inclusive: a window "
        "whose end equals the watermark IS emitted)."
    ),
)
def streaming_append_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-once finalized tumbling windows (append output mode).

    Complete mode (every other windowed entry here) re-emits all
    state each trigger — fine for a memory sink, impossible for an
    append-only production sink (files, Kafka). This entry pins the
    append contract instead: with watermark delay D, a window emits
    exactly once, in the first trigger whose watermark
    floor_ms(max event time) - D is >= its end; rows keep
    aggregating into open windows until then. AvailableNow's trailing
    no-data micro-batch advances the final watermark, so the bounded
    replay deterministically emits every window except the open tail.

    Scale notes (100 TB/day): append + watermark is what bounds state
    - closed windows leave the store, so state is O(open windows x
    types), not O(history). The ms-floor in the engine's watermark
    tracking cannot flip the inclusive end <= wm comparison for
    ms-aligned window ends, which is why the plain-microsecond oracle
    is exact."""
    from pyspark.sql import functions as F

    stream = E.read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    out = E.run_available_now(agg, output_mode="append")
    return E.to_ntz(out, "window_start")


@register(
    "streaming_bitmap_dau",
    """
    SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                AS BIGINT) AS day_idx,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
           CAST(count(DISTINCT user_id // 32) AS BIGINT) AS n_words
    FROM events GROUP BY 1
    """,
    doc=(
        "Streaming maintenance of the day/user-word activity bitmaps: "
        "the events stream replays in 4 micro-batches and foreachBatch "
        "OR-merges each batch's 32-bit words into a versioned parquet "
        "bitmap table (bit_or is idempotent AND associative, so the "
        "merge needs no audit column and tolerates replayed rows — the "
        "property that makes bitmap sketches the right exactly-once-"
        "free streaming cardinality state). The final popcount per day "
        "must equal the batch COUNT(DISTINCT) exactly."
    ),
)
def streaming_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table, scratch_dir
    from the_movies_db_spark.upsert import read_table, rewrite_table

    work = scratch_dir("bmdau")
    src = f"{work}/src"
    target = f"{work}/bitmaps"
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def maintain(batch_df, batch_id: int) -> None:
        delta = B.word_table(
            batch_df,
            "user_id",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
                " AS BIGINT)"
            ).alias("day_idx"),
        )

        def or_merge(cur):
            if cur is None:
                return delta
            return (
                cur.withColumnRenamed("bits", "__old")
                .join(delta.withColumnRenamed("bits", "__new"),
                      ["day_idx", "wid"], "full_outer")
                .select(
                    "day_idx",
                    "wid",
                    B.or_merge("__old", "__new").alias("bits"),
                )
            )

        rewrite_table(batch_df.sparkSession, target, or_merge)

    E.run_foreach_batch_available_now(stream, maintain)
    return (
        read_table(spark, target)
        .groupBy("day_idx")
        .agg(
            B.popcount_sum("bits").alias("dau"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
    )


_TOPK_PER_TYPE = 3


@register(
    "streaming_topk_incremental",
    f"""
    WITH counts AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, n, rank
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY n DESC, user_id) AS BIGINT) AS rank
      FROM counts
    ) t WHERE rank <= {_TOPK_PER_TYPE}
    ORDER BY event_type, rank
    """,
    doc=(
        "Incrementally-maintained top-k: the stream is replayed in 4 "
        "micro-batches, each ADDITIVELY merged into a (event_type, "
        "user) count table via foreachBatch — the mergeable state — "
        "and top-3 per type derives from that table at read time. "
        "This is the correct streaming top-k design: the top-k set "
        "itself is NOT mergeable across batches (an evicted key can "
        "re-enter), so the maintained state is the count table and "
        "the rank is a view over it; the final list must equal the "
        "batch GROUP BY + rank exactly."
    ),
)
def streaming_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch-maintained count table, top-k at read time.

    Scale notes (100 TB): per batch one delta aggregate + one keyed
    additive MERGE (shuffles bounded by the batch and the key grain);
    the rank window partitions by event_type over the maintained
    key-grain table, never the event history."""
    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table, scratch_dir
    from the_movies_db_spark.upsert import (
        additive_upsert,
        read_table,
        rewrite_table,
    )

    work = scratch_dir("topkinc")
    src = f"{work}/src"
    target = f"{work}/counts"
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def maintain(batch_df, batch_id: int) -> None:
        delta = batch_df.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        rewrite_table(
            batch_df.sparkSession,
            target,
            lambda cur: delta if cur is None else additive_upsert(
                cur, delta, ["event_type", "user_id"], ["n"]
            ),
        )

    E.run_foreach_batch_available_now(stream, maintain)
    from pyspark.sql import Window

    counts = read_table(spark, target)
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK_PER_TYPE)
        .select("event_type", "user_id", F.col("n").cast("bigint"), "rank")
        .orderBy("event_type", "rank")
    )


@register(
    "streaming_join_left_outer",
    """
    WITH c AS (
      SELECT user_id AS c_user, event_id AS c_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT epoch_us(max(c_ts)) FROM c),
                   (SELECT epoch_us(max(p_ts)) FROM p)) // 1000 * 1000
             - 3600000000 AS wm_us
    ),
    m AS (
      SELECT c.c_user, c.c_id
      FROM c JOIN p ON c.c_user = p.p_user
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    ),
    nulls AS (
      SELECT c.c_user
      FROM c CROSS JOIN wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
        AND (epoch_us(c.c_ts) + 999) // 1000 * 1000 + 1800000000 < wm.wm_us
    ),
    emitted AS (
      SELECT c_user, 1 AS is_m FROM m
      UNION ALL
      SELECT c_user, 0 AS is_m FROM nulls
    )
    SELECT c_user AS user_id,
           CAST(sum(is_m) AS BIGINT)            AS n_matched,
           CAST(count(*) - sum(is_m) AS BIGINT) AS n_null
    FROM emitted GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "LEFT-OUTER stream-stream interval join with state-eviction "
        "semantics pinned (the one stream-join shape not previously "
        "registered): clicks left-join purchases of the same user "
        "within 30 minutes, both sides watermarked 1h. Matched pairs "
        "emit on arrival; an UNMATCHED click emits a NULL row exactly "
        "when its state is evicted, which this engine version does iff "
        "ceil_ms(c_ts) + 30min < floor_ms(min(max c_ts, max p_ts)) - 1h "
        "(event side CEILS to ms, watermark side FLOORS, comparison "
        "STRICT — all three pinned by crafted ms/sub-ms boundary rows "
        "in tests/test_streaming_left_outer.py). The oracle replays "
        "that integer-microsecond formula, so the driver hash verifies "
        "the eviction frontier itself, not just the matched rows."
    ),
)
def streaming_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join, NULL emission = state eviction.

    Scale notes (100 TB/day): both join states are bounded by the
    watermark + interval (clicks buffer 1h30m of events, purchases
    1h), partitioned by user_id across the cluster's state stores —
    the unbounded-state failure mode of an unwatermarked outer join is
    designed out. AvailableNow's trailing no-data micro-batch advances
    the final watermark so the bounded replay flushes every evictable
    unmatched row deterministically."""
    from pyspark.sql import functions as F

    clicks = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = E.run_available_now(joined, output_mode="append")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_user").cast("bigint").alias("n_matched"),
            F.sum(F.expr("CASE WHEN p_user IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_null"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_join_full_outer",
    """
    WITH c AS (
      SELECT user_id AS c_user, event_id AS c_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT epoch_us(max(c_ts)) FROM c),
                   (SELECT epoch_us(max(p_ts)) FROM p)) // 1000 * 1000
             - 3600000000 AS wm_us
    ),
    m AS (
      SELECT c.c_user, c.c_id, p.p_id
      FROM c JOIN p ON c.c_user = p.p_user
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    ),
    lnulls AS (
      SELECT c.c_user AS u
      FROM c CROSS JOIN wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
        AND (epoch_us(c.c_ts) + 999) // 1000 * 1000 + 1800000000 < wm.wm_us
    ),
    rnulls AS (
      SELECT p.p_user AS u
      FROM p CROSS JOIN wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
        AND (epoch_us(p.p_ts) + 999) // 1000 * 1000 < wm.wm_us
    ),
    emitted AS (
      SELECT c_user AS u, 1 AS is_m, 0 AS is_l, 0 AS is_r FROM m
      UNION ALL
      SELECT u, 0, 1, 0 FROM lnulls
      UNION ALL
      SELECT u, 0, 0, 1 FROM rnulls
    )
    SELECT u AS user_id,
           CAST(sum(is_m) AS BIGINT) AS n_matched,
           CAST(sum(is_l) AS BIGINT) AS n_null_click,
           CAST(sum(is_r) AS BIGINT) AS n_null_purchase
    FROM emitted GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "FULL-OUTER stream-stream interval join with BOTH eviction "
        "frontiers pinned (closes the last stream-join shape, VERDICT "
        "r11 directive 2): clicks full-outer-join purchases of the "
        "same user within 30 minutes, both sides watermarked 1h. "
        "Matched pairs emit on arrival. An unmatched CLICK emits its "
        "NULL row iff ceil_ms(c_ts) + 30min < floor_ms(min(max c_ts, "
        "max p_ts)) - 1h (the left-outer rule, re-confirmed under "
        "full-outer mode), and an unmatched PURCHASE emits iff "
        "ceil_ms(p_ts) < that same frontier — no interval term, "
        "because the join condition c_ts <= p_ts means a purchase "
        "stays matchable until the click watermark passes p_ts "
        "itself. Event side CEILS to ms, watermark side FLOORS, both "
        "comparisons STRICT — all empirically pinned by crafted "
        "ms/sub-ms boundary rows (scripts/probe_r12_fullouter.py, "
        "tests/test_streaming_full_outer.py). The oracle replays both "
        "integer-microsecond formulas, so the driver hash verifies "
        "both frontiers, not just the matched rows."
    ),
)
def streaming_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer stream-stream join, NULL emission = state eviction.

    Scale notes (100 TB/day): state on both sides is bounded by
    watermark + interval (clicks buffer 1h30m, purchases 1h),
    partitioned by user_id across the cluster's state stores; the
    full-outer mode adds no state beyond left-outer — only the
    right-side eviction scan also emits. AvailableNow's trailing
    no-data micro-batch advances the final watermark so both
    eviction frontiers flush deterministically."""
    from pyspark.sql import functions as F

    clicks = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        E.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    )
    out = E.run_available_now(joined, output_mode="append")
    return (
        out.groupBy(
            F.coalesce("c_user", "p_user").alias("user_id")
        )
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN c_user IS NOT NULL AND p_user IS NOT NULL"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(
                F.expr(
                    "CASE WHEN c_user IS NOT NULL AND p_user IS NULL"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_null_click"),
            F.sum(F.expr("CASE WHEN c_user IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_null_purchase"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_update_mode_emissions",
    """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) % 4 AS q
      FROM events
    ),
    per AS (
      SELECT event_type, user_id, q, CAST(count(*) AS BIGINT) AS c
      FROM e GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT event_type, user_id, q,
             CAST(sum(c) OVER (PARTITION BY event_type, user_id
                               ORDER BY q) AS BIGINT) AS cumc
      FROM per
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                AS n_emissions,
           CAST(sum(cumc) AS BIGINT)               AS emitted_sum,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_groups
    FROM cum GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "UPDATE output-mode emission semantics pinned (completes the "
        "output-mode family next to streaming_append_closed's append "
        "frontier): the event stream is replayed as 4 mtime-ordered "
        "single-file micro-batches (day-of-epoch mod 4), aggregated "
        "per (event_type, user) with outputMode('update') — the engine "
        "must emit a group in EXACTLY the batches where its aggregate "
        "changed, carrying the cumulative value at that point. The "
        "oracle replays that contract in SQL: one emission per (group, "
        "present-quarter) with the running count through that quarter; "
        "emitted_sum hashes every intermediate emission value, so an "
        "engine that re-emitted unchanged groups, skipped a changed "
        "one, or emitted deltas instead of totals all diverge."
    ),
)
def streaming_update_mode_emissions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Update-mode changed-group emissions over an ordered replay.

    Scale notes (100 TB/day): update mode + a mergeable aggregate is
    the low-state streaming shape — state is one row per live group,
    emissions are per-batch deltas of the group set (what a downstream
    keyed sink consumes idempotently). The replay files here stand in
    for arrival order; state scales with groups, not history."""
    import glob as g
    import os
    import shutil

    from pyspark.sql import functions as F

    from the_movies_db_spark.io import load_table, scratch_dir

    work = scratch_dir("updmode")
    src = f"{work}/src"
    os.makedirs(src, exist_ok=True)
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    e = load_table(spark, sf_dir, "events").withColumn(
        "q",
        F.expr(f"CAST(timestampdiff(DAY, {epoch}, ts) AS BIGINT) % 4"),
    )
    t0 = 1_700_000_000
    for qi in range(4):
        tmp = f"{work}/__b{qi}"
        e.filter(F.col("q") == qi).drop("q").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = g.glob(f"{tmp}/part-*.parquet")
        if part:  # a quarter can be empty at tiny SFs
            dst = f"{src}/b{qi}.parquet"
            shutil.move(part[0], dst)
            os.utime(dst, (t0 + 10 * qi, t0 + 10 * qi))
        shutil.rmtree(tmp)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counts = stream.groupBy("event_type", "user_id").count()
    out = E.run_available_now(counts, output_mode="update")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_emissions"),
            F.sum("count").cast("bigint").alias("emitted_sum"),
            F.countDistinct("user_id").cast("bigint").alias("n_groups"),
        )
        .orderBy("event_type")
    )
