"""Event-stream analytics (batch plane): sessionization, tumbling
windows, ranking, running aggregates over the ``events`` table.

The reference is purely batch (SURVEY §2.4 note), but a warehouse-scale
engine needs the event-time operator family; these are the batch
equivalents of the Structured Streaming path in
``cube_builder_spark/streaming/`` (same logical shapes, oracled here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.numeric import bounded_collect, round_half_up_long

from .tables import load_tables
from .tables import local_df
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ["events"])["events"]


def _epoch_day():
    """Days since 1970-01-01 of ``ts`` as a long — the shared integer
    day key (exact in both engines; mirrors the oracles'
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))."""
    return F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")


def _daily_counts(ev):
    """(event_type, day, cnt) per-type daily volumes — the
    pre-aggregated calendar-bounded frame the windowed time-series
    queries (moving avg, anomaly, rank functions, CUSUM) all run
    over instead of the raw stream."""
    return (ev.select("event_type", _epoch_day().alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("cnt")))


SESSION_GAP_SEC = 1800


@register("e_sessionize", f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_SEC}
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  -- CAST: DuckDB window sum() over ints is HUGEINT -> pandas float64
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 1e2 AS total_value
FROM numbered GROUP BY user_id, session_no
""")
def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min idle gap) via lag + cumulative
    flag sum — the batch twin of session_window in streaming."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0))
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(w_cum))
    return (numbered.groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 (F.sum(round_half_up_long(F.col("value"), 100)) / 100.0)
                 .alias("total_value")))


@register("e_tumbling_window", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 1e2 AS total_value
FROM events GROUP BY window_start, event_type
""")
def e_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation (streaming twin: window(ts,
    '1 hour') + watermark)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(round_half_up_long(F.col("value"), 100)) / 100.0)
                 .alias("total_value")))


@register("e_sliding_window", """
WITH hits AS (
  SELECT make_timestamp((epoch_us(ts) // 1800000000 - t.k) * 1800000000)
           AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) t
)
SELECT window_start, event_type, count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 1e2 AS total_value
FROM hits GROUP BY window_start, event_type
""")
def e_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min (each event lands in two
    windows; streaming twin: window(ts, '1 hour', '30 minutes') +
    watermark). The oracle derives the two covering window starts per
    event on the same epoch-aligned 30-min grid Spark uses."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(round_half_up_long(F.col("value"), 100)) / 100.0)
                 .alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "total_value"))


@register("e_topk_per_type", """
SELECT event_type, event_id, user_id, value FROM (
  SELECT event_type, event_id, user_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
""")
def e_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per type (ranking window)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("event_type", "event_id", "user_id", "value"))


@register("e_user_daily_running", """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS v_c
  FROM events GROUP BY user_id, day
)
SELECT user_id, day,
       sum(v_c) OVER (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e2
         AS running_value
FROM daily
""")
def e_user_daily_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily running total (cumulative window over pre-agg)."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(F.sum(round_half_up_long(F.col("value"), 100)).alias("v_c")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return daily.select("user_id", "day",
                        (F.sum("v_c").over(w) / 100.0).alias("running_value"))


@register("e_asof_join", """
WITH b1 AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
a AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT a.user_id, a.ts, a.event_id, a.value,
       b.ts AS r_ts, b.view_event_id AS r_view_event_id
FROM a ASOF LEFT JOIN b1 b ON a.user_id = b.user_id AND b.ts <= a.ts
""")
def e_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attribute each purchase to the latest
    at-or-before view by the same user (functions/asof.py union+window
    shape — one sort-shuffle, no range join); the oracle is DuckDB's
    NATIVE ASOF LEFT JOIN, an independent implementation of the same
    semantics."""
    from .functions.asof import asof_join

    ev = _events(spark, sf_dir)
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_event_id")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id", "value"))
    return asof_join(purchases, views, keys=["user_id"], ts_col="ts",
                     right_cols=["view_event_id"])


@register("e_stream_suite", """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS v_c
  FROM events GROUP BY user_id, day
)
SELECT 'tumbling' AS variant,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS k1,
       event_type AS k2,
       count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 1e2 AS v
FROM events GROUP BY k1, k2
UNION ALL
SELECT 'topk', event_type, CAST(event_id AS VARCHAR), CAST(user_id AS BIGINT), value
FROM (
  SELECT event_type, event_id, user_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
UNION ALL
SELECT 'sliding',
       strftime(make_timestamp((epoch_us(ts) // 1800000000 - t.k) * 1800000000),
                '%Y-%m-%d %H:%M:%S') AS k1,
       event_type, count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 1e2 AS v
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) t
GROUP BY k1, event_type
UNION ALL
SELECT 'running', CAST(user_id AS VARCHAR), strftime(day, '%Y-%m-%d'),
       CAST(NULL AS BIGINT),
       sum(v_c) OVER (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e2
FROM daily
UNION ALL
SELECT 'asof', CAST(a.event_id AS VARCHAR),
       CAST(b.view_event_id AS VARCHAR), a.user_id, a.value
FROM (SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'purchase') a
ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS view_event_id
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts) b
  ON a.user_id = b.user_id AND b.ts <= a.ts
""")
def e_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-analytics suite: tumbling 1-hour windows + 30-min sliding
    windows + top-3 ranking + per-user running totals + backward as-of
    attribution, one graded row for the windowed-events family
    (streaming twins live in cube_builder_spark/streaming).
    Per-variant columns: tumbling (k1=hour, k2=type, n, v=total);
    topk (k1=type, k2=event_id, n=user_id, v=value); running
    (k1=user_id, k2=day, v=running total); asof (k1=purchase event,
    k2=attributed view event, n=user_id, v=purchase value)."""
    tumbling = e_tumbling_window(spark, sf_dir).select(
        F.lit("tumbling").alias("variant"),
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n"), F.col("total_value").alias("v"))
    topk = e_topk_per_type(spark, sf_dir).select(
        F.lit("topk").alias("variant"), F.col("event_type").alias("k1"),
        F.col("event_id").cast("string").alias("k2"),
        F.col("user_id").cast("long").alias("n"), F.col("value").alias("v"))
    sliding = e_sliding_window(spark, sf_dir).select(
        F.lit("sliding").alias("variant"),
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n"), F.col("total_value").alias("v"))
    running = e_user_daily_running(spark, sf_dir).select(
        F.lit("running").alias("variant"), F.col("user_id").cast("string").alias("k1"),
        F.date_format("day", "yyyy-MM-dd").alias("k2"),
        F.lit(None).cast("long").alias("n"), F.col("running_value").alias("v"))
    asof = e_asof_join(spark, sf_dir).select(
        F.lit("asof").alias("variant"),
        F.col("event_id").cast("string").alias("k1"),
        F.col("r_view_event_id").cast("string").alias("k2"),
        F.col("user_id").alias("n"), F.col("value").alias("v"))
    return (tumbling.unionByName(topk).unionByName(sliding)
            .unionByName(running).unionByName(asof))


@register("x_stateful_sessionize", None)
def x_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming sessionizer (applyInPandasWithState,
    closed sessions only) driven over the bounded events table — no
    SQL oracle (rows-only check): arbitrary-stateful streaming is not
    SQL-expressible. Semantics cross-checked in tests against the
    batch e_sessionize plane."""
    from .session import scratch_dir

    from .streaming.events import EVENT_SCHEMA
    from .streaming.stateful import sessionize_stream

    d = scratch_dir("stateful_sess_")
    _events(spark, sf_dir).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(d)
    q = (sessionize_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("x_stateful_sessions").start())
    q.processAllAvailable()
    q.stop()
    return spark.table("x_stateful_sessions")


@register("x_stream_funnel", None)
def x_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP funnel (view -> click -> purchase per user-day,
    Flink-CEP/MATCH_RECOGNIZE shape) via applyInPandasWithState —
    rows-only check (arbitrary stateful streaming is not
    SQL-expressible); equality against the batch e_funnel's
    completed-stage rows below the final watermark is pinned in
    tests/test_streaming.py, including out-of-order delivery."""
    from .session import scratch_dir
    from .streaming.cep import funnel_stream
    from .streaming.events import EVENT_SCHEMA

    d = scratch_dir("stream_funnel_")
    _events(spark, sf_dir).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(d)
    q = (funnel_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("x_stream_funnel_sink").start())
    q.processAllAvailable()
    q.stop()
    return spark.table("x_stream_funnel_sink")


@register("x_stream_dedup", """
SELECT md5(text) AS content_hash, doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical,
       CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) - 1
            AS BIGINT) AS n_seen_before
FROM documents
""")
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState over
    content-hash state) driven over the bounded documents table. On a
    single batch the ledger IS SQL-expressible (row_number per hash),
    so unlike the sessionizer this custom stateful operator gets a
    full hash-checked oracle; cross-micro-batch canonical persistence
    is covered by tests/test_multimodal_stateful.py."""
    from .session import scratch_dir

    from .streaming.dedup_stream import dedup_stream
    from .tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = scratch_dir("stream_dedup_")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    q = (dedup_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("x_stream_dedup_out").start())
    q.processAllAvailable()
    q.stop()
    return spark.table("x_stream_dedup_out")


@register("e_funnel", """
WITH base AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, event_type, ts
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, day) AS t_view
  FROM base
),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id, day) AS t_click
  FROM v
),
p AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id, day) AS t_purchase
  FROM c
)
SELECT DISTINCT user_id, strftime(day, '%Y-%m-%d') AS day,
       CASE WHEN t_purchase IS NOT NULL THEN 3
            WHEN t_click IS NOT NULL THEN 2
            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage,
       t_view AS view_ts, t_click AS click_ts, t_purchase AS purchase_ts
FROM p
""")
def e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per (user, day): first view, first
    click STRICTLY AFTER that view, first purchase strictly after that
    click — the sequence-matching analytics shape (out-of-order events
    don't count, unlike a naive per-type min).

    Scale shape: three unordered-frame window passes over ONE
    (user_id, day) partitioning — a single shuffle, no sorts (min-over-
    partition needs no ordering), no self-joins of the event table —
    then a distinct on the per-group result. Each pass feeds the next
    (the strictly-after condition references the previous stage's
    time), which is exactly what chained windows express."""
    ev = (_events(spark, sf_dir)
          .filter(F.col("event_type").isin("view", "click", "purchase"))
          .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"),
                  "event_type", "ts"))
    w = Window.partitionBy("user_id", "day")
    v = ev.withColumn("t_view", F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
    c = v.withColumn("t_click", F.min(
        F.when((F.col("event_type") == "click")
               & (F.col("ts") > F.col("t_view")), F.col("ts"))).over(w))
    p = c.withColumn("t_purchase", F.min(
        F.when((F.col("event_type") == "purchase")
               & (F.col("ts") > F.col("t_click")), F.col("ts"))).over(w))
    stage = (F.when(F.col("t_purchase").isNotNull(), 3)
             .when(F.col("t_click").isNotNull(), 2)
             .when(F.col("t_view").isNotNull(), 1).otherwise(0))
    return (p.select("user_id", F.date_format("day", "yyyy-MM-dd").alias("day"),
                     stage.cast("int").alias("funnel_stage"),
                     F.col("t_view").alias("view_ts"),
                     F.col("t_click").alias("click_ts"),
                     F.col("t_purchase").alias("purchase_ts"))
            .distinct())


@register("e_moving_avg", """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, cnt,
       CAST(sum(cnt) OVER w AS BIGINT) AS cnt_7d,
       CAST(count(*) OVER w AS BIGINT) AS days_present,
       CAST(sum(cnt) OVER w AS BIGINT) * 1e0 / (count(*) OVER w) AS avg_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""")
def e_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily event volume per type —
    a RANGE (value-based) window frame, which skips calendar gaps
    correctly where a ROWS frame would silently span them.

    Scale shape: events collapse to (type, day) counts first — a
    map-side-combining groupBy whose output is bounded by days ×
    types — and the range window runs over that tiny aggregate, never
    the raw stream. avg is the exact integer frame sum divided by
    present days (both engines bit-identical)."""
    ev = _events(spark, sf_dir)
    daily = _daily_counts(ev)
    w = (Window.partitionBy("event_type").orderBy("day")
         .rangeBetween(-6, 0))
    return daily.select(
        "event_type", "day", "cnt",
        F.sum("cnt").over(w).cast("long").alias("cnt_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_present"),
        (F.sum("cnt").over(w).cast("long") * F.lit(1.0)
         / F.count(F.lit(1)).over(w)).alias("avg_7d"))


@register("e_interval_join", """
SELECT p.event_id, p.user_id, p.ts,
       CAST(count(v.ts) AS BIGINT) AS n_views_1h
FROM events p LEFT JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
""")
def e_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: views by the same user in the hour
    before each purchase — attribution lookback.

    Scale shape: a naive range join pairs each purchase with the
    user's ENTIRE view history and filters afterwards (the equi part
    is only user_id). Here both sides get an hour bucket and the
    purchase side explodes to its two candidate buckets, so the join
    key is (user, bucket) and each purchase meets at most two hours
    of views before the exact range filter — the standard
    time-binning bound for interval joins. Purchases with no views
    survive via the final left join against the bucketed counts."""
    ev = _events(spark, sf_dir)
    hour = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"),
                     hour(F.col("ts")).alias("v_bucket")))
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts"))
    pexp = purch.withColumn(
        "jb", F.explode(F.array(hour(F.col("ts")),
                                hour(F.col("ts")) - 1)))
    j = (pexp.join(views, (F.col("v_user") == F.col("user_id"))
                   & (F.col("v_bucket") == F.col("jb")))
         .filter((F.col("v_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR"))
                 & (F.col("v_ts") <= F.col("ts"))))
    counts = j.groupBy(F.col("event_id").alias("c_id")) \
        .agg(F.count(F.lit(1)).alias("n"))
    return (purch.join(counts, F.col("event_id") == F.col("c_id"), "left")
            .select("event_id", "user_id", "ts",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n_views_1h")))


@register("e_volume_anomaly", """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY event_type, day
),
win AS (
  SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
         CAST(sum(cnt) OVER w AS BIGINT) AS s,
         CAST(sum(cnt * cnt) OVER w AS BIGINT) AS sq,
         CAST(count(*) OVER w AS BIGINT) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN 13 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, cnt, n AS baseline_days,
       CASE WHEN n >= 7 THEN s * 1e0 / n ELSE NULL END AS baseline_mean,
       CASE WHEN n >= 7
            AND (cnt * n - s) * (cnt * n - s) * 1e0
                > 4 * n * (sq * n - s * s)
            AND sq * n > s * s
            THEN TRUE
            WHEN n >= 7 THEN FALSE ELSE NULL END AS is_anomaly
FROM win
""")
def e_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly flags: a day is anomalous when its count
    deviates from the TRAILING-two-week baseline (excluding itself)
    by more than 2 sigma. The z-test is cross-multiplied into pure
    integers — (cnt·n − s)² > 4·n·(sq·n − s²) ⟺ (cnt−mean)² > 4·var
    — so no float mean/variance ever crosses engines; days with under
    a week of baseline return NULL (unknown), and a zero-variance
    baseline is never anomalous (strict >).

    Scale shape: same as e_moving_avg — the window runs over
    pre-aggregated (type, day) counts, never the raw stream."""
    ev = _events(spark, sf_dir)
    daily = _daily_counts(ev)
    w = (Window.partitionBy("event_type").orderBy("day")
         .rangeBetween(-13, -1))
    win = daily.select(
        "event_type", "day", F.col("cnt").cast("long").alias("cnt"),
        F.sum("cnt").over(w).cast("long").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("long").alias("sq"),
        F.count(F.lit(1)).over(w).cast("long").alias("n"))
    dev = F.col("cnt") * F.col("n") - F.col("s")
    var_n2 = F.col("sq") * F.col("n") - F.col("s") * F.col("s")
    enough = F.col("n") >= 7
    return win.select(
        "event_type", "day", "cnt",
        F.col("n").alias("baseline_days"),
        F.when(enough, F.col("s") * 1.0 / F.col("n")).alias("baseline_mean"),
        F.when(enough & (dev * dev * 1.0 > 4 * F.col("n") * var_n2)
               & (var_n2 > 0), F.lit(True))
        .when(enough, F.lit(False)).alias("is_anomaly"))


@register("e_cohort_retention", """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS week
  FROM events
),
off AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM weeks
)
SELECT cohort_week, week - cohort_week AS week_offset,
       count(*) AS n_users
FROM off
GROUP BY cohort_week, week_offset
""")
def e_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted at each later week they return — the standard retention
    triangle.

    Scale shape: ONE subtree — the raw stream reduces to distinct
    (user, week) rows (map-side-combining distinct), the cohort week
    is a WINDOW min over those rows (a min-groupBy joined back would
    scan and shuffle the events twice), and the final matrix agg
    reuses the user partitioning. count(*) == count(distinct user)
    because the input is already (user, week)-distinct."""
    ev = _events(spark, sf_dir)
    weeks = (ev.select("user_id",
                       F.floor(F.datediff(F.to_date("ts"),
                                          F.lit("1970-01-01")) / 7)
                       .cast("long").alias("week"))
             .distinct())
    cohort = F.min("week").over(Window.partitionBy("user_id"))
    return (weeks.withColumn("cohort_week", cohort)
            .groupBy("cohort_week",
                     (F.col("week") - F.col("cohort_week"))
                     .alias("week_offset"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@register("e_funnel_latency", """
WITH pairs AS (
  SELECT p.event_id,
         min(date_diff('second', v.ts, p.ts)) AS delta
  FROM events p JOIN events v
    ON v.user_id = p.user_id AND v.event_type = 'view'
   AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
  WHERE p.event_type = 'purchase'
  GROUP BY p.event_id
),
counts AS (SELECT delta, count(*) AS c FROM pairs GROUP BY delta),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
cum AS (
  SELECT delta, CAST(sum(c) OVER (ORDER BY delta) AS BIGINT) AS cum_c
  FROM counts
)
SELECT t.n AS n_converted,
       min(CASE WHEN cum_c * 100 >= 50 * t.n THEN delta END) AS p50_sec,
       min(CASE WHEN cum_c * 100 >= 90 * t.n THEN delta END) AS p90_sec,
       min(delta) AS min_sec, max(delta) AS max_sec
FROM cum, tot t
GROUP BY t.n
""")
def e_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds from the NEAREST prior
    view (within the hour) to each purchase, summarized as exact
    nearest-rank p50/p90 — the funnel-latency readout after the
    attribution join.

    Scale shape: the hour-bucketed interval join bounds the pair
    space (as in e_interval_join); the per-purchase min is a
    map-side-combining groupBy; and the quantiles use value counts +
    a cumulative window over ≤3600 distinct delta values — never a
    global sort of the purchase stream."""
    ev = _events(spark, sf_dir)
    hour = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"),
                     hour(F.col("ts")).alias("v_bucket")))
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts"))
    pexp = purch.withColumn(
        "jb", F.explode(F.array(hour(F.col("ts")),
                                hour(F.col("ts")) - 1)))
    deltas = (pexp.join(views, (F.col("v_user") == F.col("user_id"))
                        & (F.col("v_bucket") == F.col("jb")))
              .filter((F.col("v_ts") > F.col("ts")
                       - F.expr("INTERVAL 1 HOUR"))
                      & (F.col("v_ts") <= F.col("ts")))
              .groupBy("event_id")
              .agg(F.min(F.unix_timestamp("ts")
                         - F.unix_timestamp("v_ts")).alias("delta")))
    counts = deltas.groupBy("delta").agg(F.count(F.lit(1)).alias("c"))
    # r14: n as a window sum over the bounded counts frame (distinct
    # deltas <= 3600 one-second slots) — the 1-row-agg + crossJoin form
    # re-ran the events scan + explode join + two groupBys once per
    # consumer (guide §2.4): 2 passes -> 1.
    cum = (counts.withColumn(
        "cum_c", F.sum("c").over(Window.orderBy("delta")).cast("long"))
        .withColumn("n", F.sum("c").over(Window.partitionBy())
                    .cast("long")))

    def pick(pct):
        return F.min(F.when(F.col("cum_c") * 100 >= pct * F.col("n"),
                            F.col("delta")))

    return (cum
            .groupBy(F.col("n").alias("n_converted"))
            .agg(pick(50).alias("p50_sec"), pick(90).alias("p90_sec"),
                 F.min("delta").alias("min_sec"),
                 F.max("delta").alias("max_sec")))


@register("e_rank_functions", """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
       CAST(ntile(4) OVER w AS BIGINT) AS volume_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(cnt - lag(cnt, 1) OVER
            (PARTITION BY event_type ORDER BY day) AS BIGINT)
         AS day_over_day
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY cnt, day)
""")
def e_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over daily volumes: ntile quartiles,
    percent_rank, cume_dist (ordered by count with a day tie-break so
    every rank is deterministic) and a lag day-over-day delta on the
    time ordering.

    Scale shape: both windows run over the pre-aggregated (type, day)
    table — bounded by days × types — and share the event_type hash
    partitioning; percent_rank/cume_dist are exact rational doubles
    of integer ranks, bit-identical across engines."""
    ev = _events(spark, sf_dir)
    daily = _daily_counts(ev)
    w = Window.partitionBy("event_type").orderBy("cnt", "day")
    wt = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type", "day", F.col("cnt").cast("long").alias("cnt"),
        F.ntile(4).over(w).cast("long").alias("volume_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        (F.col("cnt") - F.lag("cnt", 1).over(wt)).cast("long")
        .alias("day_over_day"))


@register("x_stream_stream_join", """
WITH v AS (
  SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.event_id AS event_id, v.v_ts AS v_ts
  FROM p JOIN v ON v.v_user = p.user_id
   AND v.v_ts > p.ts - INTERVAL 1 HOUR AND v.v_ts <= p.ts
)
SELECT event_id, CAST(count(*) AS BIGINT) AS n_views,
       min(v_ts) AS first_view, max(v_ts) AS last_view
FROM j GROUP BY event_id
""")
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join, driver-graded: the watermarked
    view->purchase event-time join (streaming/events.py
    stream_stream_view_purchase — both sides buffered in join state,
    expired by watermark + the v_ts bound) driven over the bounded
    events table to completion, then aggregated per purchase. The
    oracle is the equivalent batch interval join, so a hash match
    proves the streaming join emitted EXACTLY the batch pair set —
    no duplicates from state re-emission, no pairs dropped at batch
    boundaries. (tests/test_streaming.py:203 pins the same contract
    pair-by-pair; this row makes it part of the graded surface.)"""
    from .session import scratch_dir
    from .streaming.events import stream_stream_view_purchase
    from .tables import load_tables

    import shutil

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    d = scratch_dir("ssj_events_")
    # queryName derives from the run-unique scratch suffix: two
    # concurrent invocations in one session get distinct memory sinks
    # instead of colliding on a fixed name (round-9 ADVICE fix).
    sink = "x_ssj_out_" + d.rstrip("/").rsplit("ssj_events_", 1)[-1]
    try:
        (ev.select("event_id", "user_id", "event_type", "ts")
         .write.mode("overwrite").parquet(d))
        schema = ("event_id long, user_id long, event_type string, "
                  "ts timestamp")
        stream = spark.readStream.schema(schema).parquet(d)
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        q = (stream_stream_view_purchase(views, purchases)
             .writeStream.outputMode("append")
             .format("memory").queryName(sink).start())
        q.processAllAvailable()
        q.stop()
        # the memory sink's rows live in the driver; materialize the
        # bounded aggregate before dropping the sink + scratch copy
        out = (spark.table(sink)
               .groupBy("event_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_views"),
                    F.min("v_ts").alias("first_view"),
                    F.max("v_ts").alias("last_view"))
               .localCheckpoint(eager=True))
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        shutil.rmtree(d, ignore_errors=True)
    return out


@register("e_event_transitions", """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""")
def e_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over per-user event sequences — the
    behavioral transition matrix (view->click->purchase flows) a
    product-analytics layer derives before funnel design; the order-1
    chain the e_funnel family's fixed patterns are special cases of.

    Determinism: ties on ts are broken by the unique event_id in BOTH
    engines, so the lead() pairing is engine-exact. Scale shape: one
    window over (user) — the same partitioning every sessionize query
    uses — and one map-side-combinable groupBy on the 5x5-bounded
    transition key space."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("user_id", "event_type",
                      F.lead("event_type").over(w).alias("next_type"))
            .filter(F.col("next_type").isNotNull())
            .groupBy(F.col("event_type").alias("from_type"),
                     F.col("next_type").alias("to_type"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_transitions")))


@register("e_scd2_intervals", """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
),
versioned AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id) AS valid_to
  FROM changes
)
SELECT user_id, event_type, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM versioned
""")
def e_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: collapse each user's event stream
    into validity intervals of their current state — consecutive
    repeats merge, each change opens a version row with
    [valid_from, valid_to) and the open row flags is_current. The
    standard warehouse dimension-maintenance pattern (Kimball), here
    derived in two windows over ONE user partitioning: a lag() change
    detector and a lead() interval close; the change rows are a
    filter, never a second shuffle. Deterministic under ts ties via
    the unique event_id tie-break in BOTH windows (two change rows
    can share a ts, so the interval-close ordering needs it too).

    Scale shape: both windows partition on user_id, so the whole
    derivation is one Exchange; at 100 TB this is the cheapest
    correct SCD2 build (merge-into alternatives shuffle twice)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (ev.select("user_id", "event_type", "ts", "event_id",
                         F.lag("event_type").over(w).alias("prev_type"))
               .filter(F.col("prev_type").isNull()
                       | (F.col("event_type") != F.col("prev_type")))
               .select("user_id", "event_type",
                       F.col("ts").alias("valid_from"), "event_id"))
    # ts ties between two change rows would make a bare valid_from
    # ordering engine-dependent; the unique event_id closes it
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (changes
            .select("user_id", "event_type", "valid_from",
                    F.lead("valid_from").over(w2).alias("valid_to"))
            .withColumn("is_current", F.col("valid_to").isNull()))


_RFM_SQL = """
WITH p AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
anchor AS (SELECT max(ts) AS mx FROM p),
pu AS (
  SELECT user_id,
         CAST(datediff('day', max(ts), (SELECT mx FROM anchor)) AS BIGINT)
           AS recency_days,
         count(*) AS frequency,
         CAST(sum(cents) AS BIGINT) AS monetary_cents
  FROM p GROUP BY user_id
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary_cents,
         CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
           AS r_score,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
           AS f_score,
         CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id)
              AS BIGINT) AS m_score
  FROM pu
)
SELECT user_id, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'loyal'
            WHEN r_score >= 3 AND f_score <= 2 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'promising'
            ELSE 'hibernating' END AS segment
FROM scored
"""


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared RFM per-user aggregate: one filtered scan ->
    per-user (recency_days, frequency, monetary_cents)."""
    ev = _events(spark, sf_dir)
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts",
                 round_half_up_long(F.col("value"), 100).alias("cents")))
    anchor = p.agg(F.max("ts").alias("mx"))
    return (p.groupBy("user_id")
            .agg(F.max("ts").alias("last_p"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.sum("cents").alias("monetary_cents"))
            .crossJoin(anchor)
            .select("user_id",
                    F.datediff("mx", "last_p").cast("long")
                    .alias("recency_days"),
                    "frequency", "monetary_cents"))


def _rfm_segment():
    # built lazily: module import must not require a SparkContext
    return (
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1),
               "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "loyal")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3),
              "promising")
        .otherwise("hibernating"))


@register("e_rfm_segmentation", _RFM_SQL)
def e_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    quartile scores per purchasing user plus the classic segment
    labels. Recency anchors on the newest purchase in the table (so
    the query is re-run-stable), monetary is exact integer cents.

    Determinism: every ntile orders by (metric, user_id), so quartile
    boundaries land identically in both engines regardless of ties.

    Scale shape: one filtered scan -> per-user partial aggregate;
    the quartile windows are GLOBAL sorts over the per-user rows —
    exact, and the ORACLE TWIN for `e_rfm_segmentation_scalable`,
    which computes the identical buckets with range-partitioned
    distributed ranking instead (the 100 TB form)."""
    pu = _rfm_per_user(spark, sf_dir)
    r = F.ntile(4).over(Window.orderBy("recency_days", "user_id"))
    f = F.ntile(4).over(Window.orderBy(F.desc("frequency"), "user_id"))
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary_cents"), "user_id"))
    scored = pu.select("user_id", "recency_days", "frequency",
                       "monetary_cents",
                       r.cast("long").alias("r_score"),
                       f.cast("long").alias("f_score"),
                       m.cast("long").alias("m_score"))
    return scored.withColumn("segment", _rfm_segment())


@register("e_rfm_segmentation_scalable", _RFM_SQL)
def e_rfm_segmentation_scalable(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """RFM segmentation, 100 TB form — bit-identical to
    `e_rfm_segmentation` (same DuckDB oracle text) but with ZERO
    unpartitioned windows over data: each quartile score comes from
    functions/ranking.exact_global_ntile — repartitionByRange (a
    parallel sampled shuffle), a row_number window partitioned BY the
    range partition, and broadcast cumulative per-partition offsets
    (a <= shuffle-partitions metadata frame). Exact-integer DIV
    arithmetic reproduces SQL ntile's uneven-bucket semantics, and
    the (metric, user_id) total order makes the buckets deterministic
    — so exact equality with the ntile twin is achievable and pinned
    (tests/test_ranking.py::test_rfm_scalable_equals_exact).

    r14 chained form: exact_global_ntile PRESERVES its input columns,
    so the three metric scores chain through one frame instead of
    three (user_id-keyed) join-backs of per-metric slices — the three
    shuffle joins disappear, each range pass feeds the next off the
    previous pass's checkpoint, and the old scratch-parquet
    materialization of the per-user aggregate (justified by six
    downstream passes) is unnecessary now that exactly ONE consumer
    reads it. The recency anchor derives from the final checkpointed
    frame (a column-pruned max over executor-local blocks), not a
    second events scan; the r-order keys on date(last_p) DESC, which
    is the IDENTICAL total order to recency_days ASC (datediff
    against a constant anchor is a monotone bijection on the date),
    so every ntile bucket is bit-identical to the join form and to
    the exact twin (tests/test_ranking.py pins frame equality)."""
    from .functions.ranking import exact_global_ntile

    ev = _events(spark, sf_dir)
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts",
                 round_half_up_long(F.col("value"), 100).alias("cents")))
    g = (p.groupBy("user_id")
         .agg(F.max("ts").alias("last_p"),
              F.count(F.lit(1)).alias("frequency"),
              F.sum("cents").alias("monetary_cents")))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    specs = [("r_score", [F.col("last_p").cast("date").desc(),
                          F.col("user_id").asc()]),
             ("f_score", [F.col("frequency").desc(),
                          F.col("user_id").asc()]),
             ("m_score", [F.col("monetary_cents").desc(),
                          F.col("user_id").asc()])]
    scored = g
    for out_col, order in specs:
        scored = exact_global_ntile(scored, order, 4, n_part, out_col)
    anchor = scored.agg(F.max("last_p").alias("mx"))
    return (scored.crossJoin(F.broadcast(anchor))
            .select("user_id",
                    F.datediff("mx", "last_p").cast("long")
                    .alias("recency_days"),
                    "frequency", "monetary_cents",
                    "r_score", "f_score", "m_score")
            .withColumn("segment", _rfm_segment()))


@register("e_attribution_linear", """
WITH v AS (
  SELECT user_id AS v_user, ts AS v_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.purchase_id, p.cents, v.view_id,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY v.v_ts DESC, v.view_id DESC) AS rn,
         count(*) OVER (PARTITION BY p.purchase_id) AS n
  FROM p JOIN v ON v.v_user = p.user_id
   AND v.v_ts > p.ts - INTERVAL 1 HOUR AND v.v_ts <= p.ts
)
SELECT purchase_id, view_id,
       CAST(cents // n + CASE WHEN rn <= cents % n THEN 1 ELSE 0 END
            AS BIGINT) AS attr_cents,
       CAST(rn AS BIGINT) AS touch_rank,
       CAST(n AS BIGINT) AS n_touches
FROM pairs
""")
def e_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each purchase's revenue split
    equally across the views that preceded it within the 1-hour
    lookback (the marketing-analytics counterpart of e_asof_join's
    last-touch model). The split is EXACT to the cent via the
    largest-remainder rule: every touch gets floor(cents/n) and the
    ``cents mod n`` most-recent touches get one extra cent, so the
    per-purchase sum reconstructs the purchase value exactly —
    conservation the oracle's hash enforces and
    tests/test_queries_oracle's blanket gate re-proves at both scales.
    Rank order (recency desc, event_id desc) is deterministic in both
    engines.

    Scale shape: the same (user, hour-bucket) binned interval join as
    e_interval_join — each purchase meets at most two hours of the
    user's views, never their whole history — then one ranking window
    per purchase over the bounded pair set."""
    ev = _events(spark, sf_dir)
    hour = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"),
                     F.col("event_id").alias("view_id"),
                     hour(F.col("ts")).alias("v_bucket")))
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"), "user_id",
                     "ts", round_half_up_long(F.col("value"), 100)
                     .alias("cents")))
    pexp = purch.withColumn(
        "jb", F.explode(F.array(hour(F.col("ts")),
                                hour(F.col("ts")) - 1)))
    pairs = (pexp.join(views, (F.col("v_user") == F.col("user_id"))
                       & (F.col("v_bucket") == F.col("jb")))
             .filter((F.col("v_ts") > F.col("ts")
                      - F.expr("INTERVAL 1 HOUR"))
                     & (F.col("v_ts") <= F.col("ts"))))
    w = Window.partitionBy("purchase_id").orderBy(F.desc("v_ts"),
                                                  F.desc("view_id"))
    wn = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "purchase_id", "view_id", "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    share = (F.floor(F.col("cents") / F.col("n"))
             + F.when(F.col("rn") <= F.col("cents") % F.col("n"), 1)
             .otherwise(0))
    return ranked.select("purchase_id", "view_id",
                         share.cast("long").alias("attr_cents"),
                         F.col("rn").cast("long").alias("touch_rank"),
                         F.col("n").cast("long").alias("n_touches"))


@register("e_ab_test", """
WITH assign AS (
  SELECT user_id, user_id % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS c
  FROM assign GROUP BY arm
),
wide AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 0 THEN c END) AS c0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 1 THEN c END) AS c1
  FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
       CAST(n1 AS BIGINT) AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
       c0 * 1e0 / n0 AS rate_control, c1 * 1e0 / n1 AS rate_treat,
       (n0 + n1) * (c0 * n1 - c1 * n0) * (c0 * n1 - c1 * n0)
         > 4 * n0 * n1 * (c0 + c1) * (n0 + n1 - c0 - c1)
         AS significant_2sigma
FROM wide
""")
def e_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test — the experimentation-
    platform primitive: users hash into control/treatment arms
    (user_id parity stands in for the assignment hash), per-arm
    conversion = any purchase, and the pooled two-proportion z-test at
    |z| > 2 is CROSS-MULTIPLIED into one integer inequality:

        N·(c0·n1 − c1·n0)² > 4·n0·n1·C·(N−C)

    (N = n0+n1, C = c0+c1) — algebraically z² > 4 with no float mean,
    variance, or sqrt crossing engines (the e_volume_anomaly recipe).
    int64-safe while c·n < ~3·10⁹; past that the same inequality runs
    in DECIMAL(38,0)/HUGEINT unchanged.

    Scale shape: one scan → per-user max (map-side combinable, the
    cardinality drops to users) → a 2-row arm aggregate → a 1-row
    conditional pivot. The z-test itself costs nothing."""
    ev = _events(spark, sf_dir)
    assign = (ev.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).alias("converted"))
              .withColumn("arm", F.col("user_id") % 2))
    arms = (assign.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("converted").alias("c")))
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("c1"))
    n0, c0, n1, c1 = F.col("n0"), F.col("c0"), F.col("n1"), F.col("c1")
    diff = c0 * n1 - c1 * n0
    nn = n0 + n1
    cc = c0 + c1
    return wide.select(
        n0.cast("long").alias("n_control"),
        c0.cast("long").alias("conv_control"),
        n1.cast("long").alias("n_treat"),
        c1.cast("long").alias("conv_treat"),
        (c0 * 1e0 / n0).alias("rate_control"),
        (c1 * 1e0 / n1).alias("rate_treat"),
        (nn * diff * diff > 4 * n0 * n1 * cc * (nn - cc))
        .alias("significant_2sigma"))


@register("e_pattern_match", """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
         AS n_view_to_purchase,
       CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)
         AS n_error_bursts,
       CAST(len(regexp_extract_all(s, 's[^e]*p')) AS BIGINT)
         AS n_signup_converts
FROM seq
""")
def e_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams — the
    MATCH_RECOGNIZE / Flink-CEP batch reduction: each user's ordered
    events encode to a character string (v/c/p/s/e = first letter of
    the event type, order pinned by (ts, event_id)), and patterns
    become REGULAR EXPRESSIONS counted with non-overlapping
    left-to-right scan semantics — identical in Java regex and RE2
    for these backreference-free patterns, which is exactly the
    fragment MATCH_RECOGNIZE's pattern language maps onto:

    - ``vc*p``    view, any clicks, purchase (conversion paths)
    - ``ee+``     2+ consecutive errors (incident bursts)
    - ``s[^e]*p`` signup reaching purchase with no error between

    This generalizes e_funnel's fixed triple to arbitrary regular
    patterns with zero new operator machinery.

    Scale shape: one groupBy(user) builds the encoded string (ordered
    collect — the string is session-history-sized, the same bound
    e_sessionize lives with), then the regex scans are row-local
    codegen; no joins, no windows."""
    ev = _events(spark, sf_dir)
    enc = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))),
            lambda x: F.substring(x["event_type"], 1, 1)), "")
    seq = ev.groupBy("user_id").agg(enc.alias("s"))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.regexp_count("s", F.lit("vc*p")).cast("long")
        .alias("n_view_to_purchase"),
        F.regexp_count("s", F.lit("ee+")).cast("long")
        .alias("n_error_bursts"),
        F.regexp_count("s", F.lit("s[^e]*p")).cast("long")
        .alias("n_signup_converts"))


def _traj_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase trajectories as (user_id, x=minute, y=cents) point
    sets, restricted to users with >= 2 points (shared by the exact
    and pruned Hausdorff queries)."""
    ev = _events(spark, sf_dir)
    pts = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id",
                   F.floor(F.unix_timestamp("ts") / 60).cast("long")
                   .alias("x"),
                   round_half_up_long(F.col("value"), 100).alias("y")))
    eligible = (pts.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 2).select("user_id"))
    # r14: eager cut — the point plane feeds BOTH Hausdorff kernels'
    # a/b sides plus the summary/seed subtrees (the pruned query's
    # plan re-derived the events scan + eligibility join SIXTEEN
    # times per action; the exact twin eight). The plane is the
    # query's own working set (purchase points of >=2-point users,
    # 3 ints/row) and every downstream evaluation re-reads columnar
    # blocks instead of re-scanning events (guide §2.4; production
    # would materialize the trajectory table between stages).
    return pts.join(eligible, "user_id").localCheckpoint(eager=True)


def _haus_from_joined(joined: DataFrame) -> DataFrame:
    """Exact symmetric squared Hausdorff per (ua, ub) from a joined
    (ua, ub, ax, ay, bx, by) point-pair frame: per-(pair, point) min
    then per-pair max, both directions, both map-side-combinable.

    Kernel choice (A/B-pinned, don't "fix"): a single-pass variant
    that explodes each joined row into two (dir, anchor) rows to
    evaluate the join once LOST the interleaved min-of-4 A/B
    (2.31s vs 1.48s) — the doubled pre-combine row volume and the
    extra dir key cost more than the second join evaluation, whose
    groupBys map-side-combine to (pair, point) groups well below n².
    Re-run that A/B before restructuring."""
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    h_ab = (joined
            .groupBy("ua", "ub", "ax", "ay")
            .agg(F.min(d2).alias("min_d2"))
            .groupBy("ua", "ub").agg(F.max("min_d2").alias("h_f")))
    h_ba = (joined
            .groupBy("ua", "ub", "bx", "by")
            .agg(F.min(d2).alias("min_d2"))
            .groupBy("ua", "ub").agg(F.max("min_d2").alias("h_r")))
    return (h_ab.join(h_ba, ["ua", "ub"])
            .select("ua", "ub",
                    F.greatest("h_f", "h_r").cast("long").alias("h2")))


_HAUS_SQL = """
WITH pts AS (
  SELECT user_id,
         -- floor(), not //: epoch() is DOUBLE and DuckDB's // does
         -- not floor doubles (the CAST would then ROUND up)
         CAST(floor(epoch(ts) / 60) AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
),
eligible AS (
  SELECT user_id FROM pts GROUP BY user_id HAVING count(*) >= 2
),
p AS (SELECT pts.* FROM pts JOIN eligible e ON pts.user_id = e.user_id),
cross_d AS (
  SELECT a.user_id AS ua, b.user_id AS ub, a.x AS ax, a.y AS ay,
         min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS min_d2
  FROM p a JOIN p b ON a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id, a.x, a.y
),
h_ab AS (
  SELECT ua, ub, max(min_d2) AS h FROM cross_d GROUP BY ua, ub
),
cross_r AS (
  SELECT a.user_id AS ua, b.user_id AS ub, b.x AS bx, b.y AS by_,
         min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS min_d2
  FROM p a JOIN p b ON a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id, b.x, b.y
),
h_ba AS (
  SELECT ua, ub, max(min_d2) AS h FROM cross_r GROUP BY ua, ub
),
haus AS (
  SELECT f.ua, f.ub, greatest(f.h, r.h) AS h2
  FROM h_ab f JOIN h_ba r ON f.ua = r.ua AND f.ub = r.ub
)
SELECT ua AS user_a, ub AS user_b, CAST(h2 AS BIGINT) AS hausdorff_sq
FROM haus ORDER BY h2, ua, ub LIMIT 20
"""


@register("e_trajectory_hausdorff", _HAUS_SQL)
def e_trajectory_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity search (the REPOSE/ICDE-2021 problem
    shape, reduced to its exact core): each user's purchase history is
    a 2-D trajectory in (minute-of-epoch, cents) space, and the top-20
    most-similar pairs by symmetric HAUSDORFF distance — max over
    points of the min point-to-point distance, both directions — are
    returned with the distance as an exact int64 (squared; no sqrt
    crosses engines).

    Scale shape, stated honestly: this is the quadratic baseline —
    point-set vs point-set over all user pairs, shaped as two
    groupBys over one points×points join (per-(pair, point) min, then
    per-pair max — both map-side-combinable, never a per-pair array
    materialization). Production at 100 TB adds the paper's pruning
    layer (reference-point tries / spatial banding, the same bounded-
    bucket posture as the LSH joins) in FRONT of this exact verifier;
    the verifier itself is what the oracle can prove, and is the
    expensive half pruning exists to protect.

    Ties: ORDER BY (h2, ua, ub) LIMIT 20 — deterministic in both
    engines. Kernel A/B history: see _haus_from_joined."""
    p = _traj_points(spark, sf_dir)
    a = p.select(F.col("user_id").alias("ua"), F.col("x").alias("ax"),
                 F.col("y").alias("ay"))
    b = p.select(F.col("user_id").alias("ub"), F.col("x").alias("bx"),
                 F.col("y").alias("by"))
    joined = a.join(b, F.col("ua") < F.col("ub"))
    return (_haus_from_joined(joined)
            .select(F.col("ua").alias("user_a"),
                    F.col("ub").alias("user_b"),
                    F.col("h2").alias("hausdorff_sq"))
            .orderBy("hausdorff_sq", "user_a", "user_b").limit(20))


@register("e_trajectory_hausdorff_pruned", _HAUS_SQL)
def e_trajectory_hausdorff_pruned(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Trajectory Hausdorff top-20, 100 TB form — the SAME answer as
    `e_trajectory_hausdorff` (same DuckDB oracle text) with a bounded
    candidate generator in front of the exact verifier, replacing the
    all-pairs points×points theta join (the REPOSE-style prune; cf.
    the grid-binned posture of functions/spatial.py's radius join).

    Provably lossless pruning:

    1. SEED upper bound: the 21 eligible users with smallest
       (max_x, user_id) are exactly verified against each other
       (>= 210 pairs, a bounded subset); the 20th-smallest h² of any
       SUBSET of pairs upper-bounds the true 20th-smallest T — so
       every true top-20 pair has h² <= T_ub.
    2. LOWER bound from per-user extremes: for the point a* of A
       maximizing x, min_b d(a*, b) >= max_x(A) − max_x(B) when
       positive; symmetrically in both directions and for all four
       extremes, so h²(A,B) >= max(Δmax_x, Δmin_x, Δmax_y, Δmin_y)².
       Any pair whose extreme gap exceeds sqrt(T_ub) cannot beat the
       seed and is pruned WITHOUT touching its points.
    3. Candidates: band users on floor(max_x / W), W = isqrt(T_ub)+1,
       join each user's bucket against its 3-bucket ring (|Δmax_x| <=
       sqrt(T_ub) implies adjacent buckets), post-filter with the full
       four-extreme lower bound. The pair space is bucket-local over
       the per-user SUMMARY table (5 ints/user), never over points.
    4. Exact verify: the A/B-pinned two-groupBy kernel runs only on
       candidate pairs (keyed hash joins on ua/ub — no BNLJ over
       data; plan shape pinned in tests/test_hausdorff_pruned.py).

    Top-20 equality with the unpruned twin is pinned in
    tests/test_hausdorff_pruned.py and both queries hash-check
    against the shared oracle at sf0.01 (150 eligible users — the
    pruned path) and sf0.001 (< 21 users — the exact-fallback path).

    Measured (sf0.1, local[32], interleaved min-of-3, identical 20
    rows): exact 110.5s vs pruned 16.1s (6.9x) — 578k of 1,124k pairs
    survive the prune, and the verify joins are keyed instead of BNLJ.
    The 16.1s keeps this query OUT of the 91-query sf0.1 headline
    set; tripwire coverage of the prune front-end comes from the
    sf0.01 SIDECAR instead (bench.py EXTRA_BY_SF — the detail file is
    sf-keyed, so a regression toward the exact twin's cost profile
    flags on the next sf0.01 bench run, round-11 punch #2).
    A refine round (exactly verify the 200 smallest-LB candidates,
    re-threshold at their 20th-best h) was prototyped and cut only
    578k->484k (T 52.4M->39.9M): on this corpus the top-20 distances
    sit close to the bulk, so the extra driver sync isn't worth it —
    revisit if the corpus develops tight clusters.

    At a skewed 100 TB the max_x banding inherits the usual
    hot-bucket caveat; the summary-table rows are 5 ints, so salting
    the bucket key is cheap if a tenant concentrates last-purchase
    times."""
    import math

    p = _traj_points(spark, sf_dir)
    # r14: summ feeds the seed collect AND the lhs/rhs band sides —
    # 5 ints per user, metadata scale, so the eager cut makes those
    # three consumers one aggregation pass over the (already cut)
    # point plane (guide §2.4).
    summ = (p.groupBy("user_id")
            .agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                 F.min("y").alias("min_y"), F.max("y").alias("max_y"))
            .localCheckpoint(eager=True))
    seed_ids = [r["user_id"] for r in
                summ.orderBy("max_x", "user_id").limit(21)
                .select("user_id").collect()]
    empty = local_df(spark,
        [], "user_a long, user_b long, hausdorff_sq long")
    if len(seed_ids) < 2:
        return empty
    sp = p.filter(F.col("user_id").isin(seed_ids))
    sa = sp.select(F.col("user_id").alias("ua"), F.col("x").alias("ax"),
                   F.col("y").alias("ay"))
    sb = sp.select(F.col("user_id").alias("ub"), F.col("x").alias("bx"),
                   F.col("y").alias("by"))
    seed_h = _haus_from_joined(sa.join(sb, F.col("ua") < F.col("ub")))
    if len(seed_ids) < 21:
        # fewer than 21 eligible users: the seed IS the whole corpus,
        # and with < 20 total pairs a T_ub prune could drop rows the
        # under-full result must keep — return the exact kernel
        return (seed_h
                .select(F.col("ua").alias("user_a"),
                        F.col("ub").alias("user_b"),
                        F.col("h2").alias("hausdorff_sq"))
                .orderBy("hausdorff_sq", "user_a", "user_b").limit(20))
    seed_top = seed_h.orderBy("h2", "ua", "ub").limit(20).collect()
    if not seed_top:
        return empty
    t_ub = max(r["h2"] for r in seed_top)
    w = math.isqrt(t_ub) + 1
    lhs = (summ.select(
        F.col("user_id").alias("ua"), F.col("min_x").alias("a_min_x"),
        F.col("max_x").alias("a_max_x"), F.col("min_y").alias("a_min_y"),
        F.col("max_y").alias("a_max_y"))
        .withColumn("bucket", F.explode(F.array(
            F.floor(F.col("a_max_x") / w) - 1,
            F.floor(F.col("a_max_x") / w),
            F.floor(F.col("a_max_x") / w) + 1))))
    rhs = (summ.select(
        F.col("user_id").alias("ub"), F.col("min_x").alias("b_min_x"),
        F.col("max_x").alias("b_max_x"), F.col("min_y").alias("b_min_y"),
        F.col("max_y").alias("b_max_y"))
        .withColumn("bucket", F.floor(F.col("b_max_x") / w)))
    gap = F.greatest(
        F.abs(F.col("a_max_x") - F.col("b_max_x")),
        F.abs(F.col("a_min_x") - F.col("b_min_x")),
        F.abs(F.col("a_max_y") - F.col("b_max_y")),
        F.abs(F.col("a_min_y") - F.col("b_min_y")))
    cand = (lhs.join(rhs, ["bucket"])
            .filter(F.col("ua") < F.col("ub"))
            .filter(gap * gap <= F.lit(t_ub))
            .select("ua", "ub"))
    a = p.select(F.col("user_id").alias("ua"), F.col("x").alias("ax"),
                 F.col("y").alias("ay"))
    b = p.select(F.col("user_id").alias("ub"), F.col("x").alias("bx"),
                 F.col("y").alias("by"))
    joined = cand.join(a, "ua").join(b, "ub")
    return (_haus_from_joined(joined)
            .select(F.col("ua").alias("user_a"),
                    F.col("ub").alias("user_b"),
                    F.col("h2").alias("hausdorff_sq"))
            .orderBy("hausdorff_sq", "user_a", "user_b").limit(20))


@register("e_seasonal_profile", """
WITH base AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         CAST(round(value * 1) AS BIGINT) AS u
  FROM events
),
prof AS (
  SELECT event_type, dow, count(*) AS n,
         CAST(sum(u) AS BIGINT) AS sum_units,
         CAST(sum(u * u) AS BIGINT) AS sumsq_units
  FROM base GROUP BY event_type, dow
),
tot AS (
  SELECT event_type, dow, n, sum_units, sumsq_units,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot_n,
         CAST(sum(sum_units) OVER (PARTITION BY event_type) AS BIGINT)
           AS tot_sum
  FROM prof
)
SELECT event_type, CAST(dow AS BIGINT) AS dow, n, sum_units, sumsq_units,
       sum_units * 1e0 / n AS mean_units,
       sumsq_units * 1e0 / n
         - (sum_units * 1e0 / n) * (sum_units * 1e0 / n) AS var_units,
       (sum_units * 1e0 / n) / NULLIF(tot_sum * 1e0 / tot_n, 0)
         AS seasonal_index
FROM tot
""")
def e_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile per event type — the seasonality
    decomposition every forecasting/anomaly layer starts from (the
    multiplicative seasonal INDEX of classical decomposition: the
    dow mean over the type's overall mean; indexes far from 1 mark
    strong weekly cycles, and var_units feeds the residual-noise
    denominator downstream detectors threshold on).

    Cross-engine float discipline: n / sum / sum-of-squares are exact
    int64 (values unit-rounded via the house half-up helper; dow from
    integer epoch-day arithmetic, (days+4) % 7 with 1970-01-01 a
    Thursday — no engine-specific dayofweek numbering); mean is ONE
    IEEE division, variance is the E[X²]−E[X]² form written with the
    IDENTICAL operation shape in both engines (never the n·sumsq−sum²
    integer form, whose product overflows int64 at large n), and the
    seasonal index divides the two means.

    Scale shape: one map-side-combinable groupBy carries the volume;
    the window runs over the types×7-bounded aggregate, not the
    events."""
    ev = _events(spark, sf_dir)
    dow = (F.expr("unix_timestamp(ts) div 86400") + 4) % 7
    u = round_half_up_long(F.col("value"), 1)
    prof = (ev.select("event_type", dow.alias("dow"), u.alias("u"))
            .groupBy("event_type", "dow")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("u").cast("long").alias("sum_units"),
                 F.sum(F.col("u") * F.col("u")).cast("long")
                 .alias("sumsq_units")))
    w = Window.partitionBy("event_type")
    mean = F.col("sum_units") * 1e0 / F.col("n")
    tot_mean = F.col("tot_sum") * 1e0 / F.col("tot_n")
    return (prof
            .withColumn("tot_n", F.sum("n").over(w).cast("long"))
            .withColumn("tot_sum", F.sum("sum_units").over(w).cast("long"))
            .select("event_type", F.col("dow").cast("long").alias("dow"),
                    "n", "sum_units", "sumsq_units",
                    mean.alias("mean_units"),
                    (F.col("sumsq_units") * 1e0 / F.col("n") - mean * mean)
                    .alias("var_units"),
                    (mean / F.when(tot_mean != 0, tot_mean))
                    .alias("seasonal_index")))


@register("x_dynamic_partition_pruning", """
WITH dim AS (
  SELECT DISTINCT event_type,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 'conversion' ELSE 'engagement' END AS category
  FROM events
)
SELECT e.event_type, count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE d.category = 'conversion'
GROUP BY e.event_type
""")
def x_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through a star join — the Catalyst
    runtime-pruning feature every 100 TB fact/dim join lives on
    (Spark 3.0+, SPARK-11150), in the TPC-DS shape: the fact table is
    HIVE-PARTITIONED by event_type, the filter sits on a DIM
    attribute (category = 'conversion'), and the qualifying partition
    KEYS exist only at runtime — static pushdown cannot carry a
    dim-attribute predicate through the join onto the fact's
    partition column. Catalyst broadcasts the filtered dim, plants a
    dynamicpruningexpression in the fact scan's PartitionFilters, and
    the scan never opens a non-qualifying partition's files. At
    100 TB that is reading 2 partitions instead of all of them.

    Plan-shape note (probed, not assumed): DPP's insertion requires a
    LIKELY-SELECTIVE predicate on the dim side — attribute-vs-literal
    qualifies; a column-vs-column ratio filter (cnt*5 >= total, the
    first cut) never triggered the rule. The values are
    oracle-checked here; the dynamicpruningexpression itself is
    pinned environment-independently in tests/test_plan_shape.py.

    The scratch partitioned copy stands in for what at scale IS the
    table's layout — partitioned storage is DPP's precondition, not
    overhead added by the query."""
    from .session import defer_cleanup, scratch_dir

    ev = _events(spark, sf_dir)
    root = scratch_dir("dpp_fact_")
    (ev.select("event_type", "value")
     .write.mode("overwrite").partitionBy("event_type").parquet(root))
    fact = spark.read.parquet(defer_cleanup(root, key="x_dpp_fact"))

    dim = (ev.select("event_type").distinct()
           .withColumn("category",
                       F.when(F.col("event_type").isin("purchase", "signup"),
                              "conversion").otherwise("engagement")))
    sel = (dim.filter(F.col("category") == "conversion")
           .select(F.col("event_type").alias("sel_type")))
    return (fact.join(sel, fact["event_type"] == F.col("sel_type"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(round_half_up_long(F.col("value"), 100))
                 .cast("long").alias("sum_cents")))


@register("e_lagged_xcorr", """
WITH daily AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS nv,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS np
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
),
lags(lag) AS (VALUES (-3), (-2), (-1), (0), (1), (2), (3)),
paired AS (
  SELECT l.lag AS lag, a.nv AS x, b.np AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + l.lag
)
SELECT lag, count(*) AS n_days,
       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       CAST(sum(x * y) AS BIGINT) AS sxy,
       CAST(sum(x * x) AS BIGINT) AS sxx,
       CAST(sum(y * y) AS BIGINT) AS syy,
       (count(*) * sum(x * y) - sum(x) * sum(y)) * 1e0
         / NULLIF(sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                  * sqrt(count(*) * sum(y * y) - sum(y) * sum(y)), 0)
         AS pearson
FROM paired GROUP BY lag
""")
def e_lagged_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between two event streams — the
    signals question behind funnel latency ("do views LEAD purchases,
    and by how many days?"): Pearson correlation of daily view volume
    against purchase volume shifted by each lag in [-3, +3]; the
    arg-max lag estimates the conversion delay, the backbone of
    marketing-mix / causal-lag analysis.

    Exactness: daily counts are exact int64, so every Pearson
    component (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer — the
    cross-multiplied n·Σxy − ΣxΣy form stays well inside int64 for
    daily-count magnitudes (counts ~1e6/day at 100 TB → n·Σxy ~1e15)
    — and the coefficient itself is correctly-rounded IEEE sqrt/
    division with the IDENTICAL expression shape in both engines.

    Scale shape: ONE map-side-combinable groupBy(day) carries the
    event volume; the lag expansion (a 7-literal explode) and the
    per-lag self-join run on the days×1 aggregate — bounded by the
    calendar, not the data. The conditional-aggregate pivot computes
    both series in one pass (the q2/q15 single-subtree lesson: never
    two filtered groupBys joined back)."""
    ev = _events(spark, sf_dir)
    daily = (ev.filter(F.col("event_type").isin("view", "purchase"))
             .groupBy(F.expr("unix_timestamp(ts) div 86400")
                      .cast("long").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                        .otherwise(0)).cast("long").alias("nv"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("long").alias("np"))
             )
    # r15: the r14 eager cut (daily checkpointed, then self-joined on
    # day+lag) paid a checkpoint job and a join per action. Each lag
    # is a fixed integer day shift, so a RANGE window over the day
    # number replaces the join (guide §2.4, the e_acf_daily rewrite):
    # y_l(day) = np(day+l) via range(l, l), non-null iff day+l exists
    # in daily — exactly the join's match condition, so the (x, y)
    # pair multiset per lag is identical. One events scan, no
    # checkpoint, no join; the unpartitioned window runs over the
    # calendar-bounded daily frame (|days| rows), never event volume.
    wd = Window.orderBy("day")
    paired = (daily
              .select("day", "nv",
                      F.array(*[
                          F.struct(
                              F.lit(l).alias("lag"),
                              F.sum("np").over(wd.rangeBetween(l, l))
                              .alias("np"))
                          for l in range(-3, 4)]).alias("ls"))
              .select("day", "nv", F.explode("ls").alias("l"))
              .select("day", "nv", F.col("l.lag").alias("lag"),
                      F.col("l.np").alias("np"))
              .filter(F.col("np").isNotNull()))
    n = F.count(F.lit(1))
    sx, sy = F.sum("nv"), F.sum("np")
    sxy = F.sum(F.col("nv") * F.col("np"))
    sxx = F.sum(F.col("nv") * F.col("nv"))
    syy = F.sum(F.col("np") * F.col("np"))
    den = (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    return (paired.groupBy(F.col("lag").cast("long").alias("lag"))
            .agg(n.alias("n_days"),
                 sx.cast("long").alias("sx"), sy.cast("long").alias("sy"),
                 sxy.cast("long").alias("sxy"),
                 sxx.cast("long").alias("sxx"),
                 syy.cast("long").alias("syy"),
                 ((n * sxy - sx * sy) * 1e0
                  / F.when(den != 0, den)).alias("pearson")))


@register("e_ewma_daily", """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
),
rec AS (
  SELECT event_type, i, CAST(n AS DOUBLE) AS s FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, 0.25 * idx.n + 0.75 * rec.s
  FROM rec JOIN idx ON idx.event_type = rec.event_type
   AND idx.i = rec.i + 1
),
tail_i AS (SELECT event_type, max(i) AS mi FROM rec GROUP BY event_type)
SELECT r.event_type, CAST(t.mi AS BIGINT) AS n_days, r.s AS ewma_last
FROM rec r JOIN tail_i t
  ON r.event_type = t.event_type AND r.i = t.mi
ORDER BY r.event_type
""")
def e_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over per-type daily
    volumes (the ops-metrics smoother: s_1 = x_1, s_t = alpha*x_t +
    (1-alpha)*s_{t-1}, alpha = 0.25) — the sequential-recurrence
    family member the window queries can't express with a frame.

    Scale shape: the recurrence is sequential IN TIME but parallel
    ACROSS series — one map-side-combinable daily aggregate, then each
    series' fold runs inside its own task as a JVM F.aggregate over
    the calendar-bounded day array (<= a few thousand elements at any
    corpus size; series count scales out, series length doesn't).

    Cross-engine float parity: both engines evaluate the identical
    per-step shape 0.25*x + 0.75*acc (one int->double widen, two
    multiplies, one add) in the identical day order — Spark as an
    in-array left fold, DuckDB as the unrolled recursive CTE — so the
    doubles are bit-identical; day boundaries come from the same
    CAST-to-date in both."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("n")))
    series = (daily.groupBy("event_type")
              .agg(F.sort_array(F.collect_list(F.struct("d", "n")))
                   .alias("xs")))
    ns = F.transform(F.col("xs"), lambda x: x["n"])
    ewma = F.aggregate(
        F.slice(ns, 2, F.greatest(F.size(ns) - 1, F.lit(0))),
        F.element_at(ns, 1).cast("double"),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc)
    return (series.select("event_type",
                          F.size("xs").cast("long").alias("n_days"),
                          ewma.alias("ewma_last"))
            .orderBy("event_type"))


@register("e_holt_forecast", """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
         count(*) OVER (PARTITION BY event_type) AS total
  FROM daily
),
rec AS (
  SELECT i1.event_type, CAST(2 AS BIGINT) AS i,
         0.5 * i2.n + 0.5 * (CAST(i1.n AS DOUBLE) + (CAST(i2.n AS DOUBLE) - i1.n)) AS l,
         CAST(i2.n AS DOUBLE) - i1.n AS b
  FROM idx i1 JOIN idx i2
    ON i2.event_type = i1.event_type AND i1.i = 1 AND i2.i = 2
  UNION ALL
  SELECT idx.event_type, idx.i,
         0.5 * idx.n + 0.5 * (rec.l + rec.b),
         0.25 * ((0.5 * idx.n + 0.5 * (rec.l + rec.b)) - rec.l)
           + 0.75 * rec.b
  FROM rec JOIN idx ON idx.event_type = rec.event_type
   AND idx.i = rec.i + 1
),
fin AS (
  SELECT r.event_type, r.l, r.b
  FROM rec r JOIN (SELECT event_type, max(i) AS mi FROM rec
                   GROUP BY event_type) t
    ON r.event_type = t.event_type AND r.i = t.mi
)
SELECT f.event_type, CAST(x.total AS BIGINT) AS n_days,
       f.l AS level_last, f.b AS trend_last,
       f.l + 7 * f.b AS forecast_7d
FROM fin f JOIN (SELECT DISTINCT event_type, total FROM idx) x
  ON x.event_type = f.event_type
ORDER BY f.event_type
""")
def e_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing + 7-day-ahead
    forecast over per-type daily volumes (Holt 1957; the level+trend
    recurrence: l_t = a*x_t + (1-a)(l_{t-1}+b_{t-1}),
    b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}; a=0.5, g=0.25;
    initialization l_2 from the recurrence seeded by l_1 = x_1,
    b_1 = x_2 - x_1; forecast = l_T + 7*b_T) — e_ewma_daily's
    two-state sibling, the simplest trend-aware forecaster.

    Scale shape: identical to e_ewma_daily — sequential in time,
    parallel across series; each series folds a struct(level, trend)
    accumulator inside its own task over the calendar-bounded day
    array. Cross-engine float parity: every per-step expression is
    written in the SAME shape and order in the Spark fold and the
    oracle's recursive CTE (including computing the new level once
    and reusing it in the trend update), so the doubles are
    bit-identical."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("n")))
    series = (daily.groupBy("event_type")
              .agg(F.sort_array(F.collect_list(F.struct("d", "n")))
                   .alias("xs"))
              .filter(F.size("xs") >= 2))
    ns = F.transform(F.col("xs"), lambda x: x["n"])
    x1 = F.element_at(ns, 1).cast("double")
    x2 = F.element_at(ns, 2).cast("double")
    # seed state after consuming x_2: l_1 = x_1, b_1 = x_2 - x_1, then
    # one recurrence step on x_2 (matching the oracle's anchor row)
    seed = F.struct(
        (F.lit(0.5) * x2 + F.lit(0.5) * (x1 + (x2 - x1))).alias("l"),
        (x2 - x1).alias("b"))

    def step(acc, x):
        new_l = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = (F.lit(0.25) * (new_l - acc["l"])
                 + F.lit(0.75) * acc["b"])
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    fin = F.aggregate(
        F.slice(ns, 3, F.greatest(F.size(ns) - 2, F.lit(0))),
        seed, step)
    return (series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        fin["l"].alias("level_last"),
        fin["b"].alias("trend_last"),
        (fin["l"] + F.lit(7) * fin["b"]).alias("forecast_7d"))
        .orderBy("event_type"))


@register("e_point_in_time_join", """
WITH ctx AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE event_type <> 'purchase'
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ctx WHERE prev_type IS NULL OR event_type <> prev_type
),
dim AS (
  SELECT user_id, event_type AS context, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id) AS valid_to
  FROM changes
),
p AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
joined AS (
  SELECT coalesce(d.context, 'none') AS context, p.cents
  FROM p LEFT JOIN dim d
    ON d.user_id = p.user_id AND p.ts >= d.valid_from
   AND (d.valid_to IS NULL OR p.ts < d.valid_to)
)
SELECT context, count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM joined GROUP BY context ORDER BY context
""")
def e_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join — each purchase joined to the dimension row
    valid AT ITS EVENT TIME (the no-data-leakage temporal join every
    feature store is built around: an ML label must see the attribute
    as it WAS, never as it is now). The dimension is the user's
    browsing context as SCD2 validity intervals (e_scd2_intervals'
    lag/lead derivation over non-purchase events); each purchase
    matches exactly ONE interval under half-open [valid_from,
    valid_to) semantics — zero-length intervals from same-timestamp
    changes are skipped, a purchase at a boundary lands in the newer
    interval, and purchases before the user's first context row fall
    out as 'none' via the left join.

    Scale shape: the join is EQUI on user_id with the interval test
    as a residual — per-user interval counts are bounded by that
    user's state-change count, so the pair volume is
    sum_u(purchases_u x intervals_u), never |facts| x |dim|; a
    pathological hot user is the standard interval-binning fix
    (e_interval_join's hour-bucket shape) — not needed at the graded
    corpus's per-user cardinalities. Output is the per-context
    purchase profile in exact cents."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ctx = (ev.filter(F.col("event_type") != "purchase")
           .select("user_id", "event_type", "ts", "event_id",
                   F.lag("event_type").over(w).alias("prev_type")))
    changes = (ctx.filter(F.col("prev_type").isNull()
                          | (F.col("event_type") != F.col("prev_type")))
               .select("user_id", F.col("event_type").alias("context"),
                       F.col("ts").alias("valid_from"), "event_id"))
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    dim = changes.select(
        F.col("user_id").alias("d_user"), "context", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts",
                 round_half_up_long(F.col("value"), 100).alias("cents")))
    joined = p.join(
        dim,
        (F.col("d_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left")
    return (joined
            .select(F.coalesce(F.col("context"), F.lit("none"))
                    .alias("context"), "cents")
            .groupBy("context")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("cents").cast("long").alias("sum_cents"))
            .orderBy("context"))


@register("e_cusum_changepoint", """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, day
),
c AS (
  SELECT event_type, day, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS cum,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
),
s AS (
  SELECT event_type, day, cnt, t, n_days,
         n_days * cum - t * total AS dev
  FROM c WHERE t < n_days
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(dev) DESC, day) AS rn
  FROM s
)
SELECT event_type, day AS changepoint_day, t AS t_index, n_days,
       CAST(dev AS BIGINT) AS dev, CAST(abs(dev) AS BIGINT) AS abs_dev
FROM ranked WHERE rn = 1
""")
def e_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint estimation per event type (Page 1954
    / the Hinkley mean-shift estimator): the split day maximizing the
    centered cumulative-sum deviation |S_t| where
    S_t = cumsum_t - (t/T) * total — the day the series' mean most
    plausibly shifted. The statistic is cross-multiplied into pure
    int64 (dev = T*cumsum_t - t*total, abs-max tie-broken by earliest
    day), so both engines rank bit-identically — the same
    no-float-crosses-engines discipline as e_volume_anomaly's z-test.

    The last index t = T is excluded (S_T = 0 identically — a
    degenerate 'split after everything').

    Scale shape: all windows run over the (type, day) PRE-AGGREGATED
    frame (calendar-bounded, partitioned by type), never the raw
    events; the argmax is a rank-1 filter on that same tiny frame."""
    ev = _events(spark, sf_dir)
    daily = _daily_counts(ev)
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    c = daily.select(
        "event_type", "day", F.col("cnt").cast("long").alias("cnt"),
        F.sum("cnt").over(w_ord).cast("long").alias("cum"),
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.sum("cnt").over(w_all).cast("long").alias("total"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"))
    s = (c.filter(F.col("t") < F.col("n_days"))
         .withColumn("dev", F.col("n_days") * F.col("cum")
                     - F.col("t") * F.col("total")))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dev")).desc(), F.col("day").asc())
    return (s.withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("day").alias("changepoint_day"),
                    F.col("t").alias("t_index"), "n_days",
                    F.col("dev").cast("long").alias("dev"),
                    F.abs(F.col("dev")).cast("long").alias("abs_dev")))


@register("e_kaplan_meier", """
WITH per_user AS (
  SELECT user_id,
         CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
              AS BIGINT) AS first_day,
         CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
              AS BIGINT) AS last_day
  FROM events GROUP BY user_id
),
horizon AS (SELECT CAST(max(last_day) AS BIGINT) AS m FROM per_user),
obs AS (
  SELECT u.user_id, u.last_day - u.first_day AS duration,
         u.last_day <= h.m - 8 AS churned
  FROM per_user u CROSS JOIN horizon h
),
agg AS (
  SELECT duration,
         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
           AS d_churned,
         CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
           AS c_censored,
         CAST(count(*) AS BIGINT) AS n_total
  FROM obs GROUP BY duration
),
risk AS (
  SELECT duration, d_churned, c_censored,
         CAST(sum(n_total) OVER (ORDER BY duration DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_at_risk
  FROM agg
)
SELECT duration, n_at_risk, d_churned, c_censored
FROM risk WHERE d_churned > 0
""")
def e_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival-table inputs for user lifetime (Kaplan &
    Meier 1958 — the retention-curve estimator product analytics
    reads churn from): per user, lifetime = last-activity day minus
    first-activity day; a user whose last activity is at least 8
    days before the corpus horizon is an OBSERVED churn, anyone still
    active near the horizon is right-CENSORED at their last day. The
    output is the estimator's exact-integer event table — for every
    duration with at least one churn: n_at_risk (users with lifetime
    >= t, censored included until they drop out — the KM property),
    d_churned, c_censored. The survival product S(t) = prod(1 - d/n)
    is left to the caller: a cross-engine float PRODUCT is
    reduction-order-unstable, while this table is hash-exact and
    sufficient (same discipline as e_ab_test's integerized z-test).

    Scale shape: ONE scan of events (asserted in
    tests/test_plan_shape.py) — a map-side-combinable per-user
    aggregate, then a (duration, last_day) rollup whose key space is
    calendar²-bounded (distinct day pairs, never users), so the
    horizon is a plain unpartitioned window max over THAT metadata-
    scale frame. Round 11 computed the horizon from a second
    ts-pruned events scan (deriving it from per_user re-evaluates
    the aggregate subtree — ReuseExchange does not fire across
    column pruning, the measured behavior functions/ranking.py
    documents); the rollup route gets one scan AND no re-evaluation:
    the horizon rides the frame it is consumed on. The final
    duration groupBy and at-risk window stay calendar-bounded."""
    ev = _events(spark, sf_dir)
    per_user = (ev.select("user_id", _epoch_day().alias("day"))
                .groupBy("user_id")
                .agg(F.min("day").alias("first_day"),
                     F.max("day").alias("last_day")))
    # calendar²-bounded rollup: every downstream fact (duration,
    # churn-vs-horizon, user counts) is a function of (duration,
    # last_day), so users collapse here and the global horizon max is
    # a window over ≤ |days|² rows — metadata-scale, one events scan
    g = (per_user
         .groupBy((F.col("last_day") - F.col("first_day"))
                  .alias("duration"), "last_day")
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w_all = (Window.orderBy("last_day")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    obs = g.select(
        "duration", "n",
        (F.col("last_day") <= F.max("last_day").over(w_all) - 8)
        .alias("churned"))
    agg = (obs.groupBy("duration")
           .agg(F.sum(F.when(F.col("churned"), F.col("n")).otherwise(0))
                .cast("long").alias("d_churned"),
                F.sum(F.when(F.col("churned"), 0).otherwise(F.col("n")))
                .cast("long").alias("c_censored"),
                F.sum("n").cast("long").alias("n_total")))
    w = (Window.orderBy(F.desc("duration"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = agg.select(
        "duration", "d_churned", "c_censored",
        F.sum("n_total").over(w).cast("long").alias("n_at_risk"))
    return (risk.filter(F.col("d_churned") > 0)
            .select("duration", "n_at_risk", "d_churned", "c_censored"))


@register("e_frequent_paths", """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT user_id, event_type AS t1, t2, t3
  FROM seq WHERE t3 IS NOT NULL
),
agg AS (
  SELECT t1, t2, t3,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM paths GROUP BY t1, t2, t3
)
SELECT t1, t2, t3, n_occurrences, n_users
FROM agg
ORDER BY n_users DESC, n_occurrences DESC, t1, t2, t3
LIMIT 20
""")
def e_frequent_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavioral paths — the contiguous-sequence
    support counting at the core of sequential-pattern mining
    (PrefixSpan / SPADE's unit step, Pei et al. 2001), one order up
    from e_event_transitions' pair matrix: every consecutive
    (t1, t2, t3) triple per user, ranked by user support then raw
    occurrences. Support = DISTINCT users (the pattern-mining
    definition — a loop by one power user must not dominate), with
    occurrence count alongside.

    Determinism: ts ties break on the unique event_id in both
    engines, so the lead() triples are engine-exact; the top-20 order
    is total via the (support, occurrences, t1, t2, t3) key.

    Scale shape: ONE (user)-partitioned window serves both leads, the
    triple key space is |types|^3-bounded (125 here) so the groupBy
    is map-side combinable, count(DISTINCT user_id) expands to the
    standard two-phase partial aggregate on the (triple, user) key,
    and the top-20 is a TakeOrdered over the bounded aggregate."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (ev.select("user_id",
                       F.col("event_type").alias("t1"),
                       F.lead("event_type", 1).over(w).alias("t2"),
                       F.lead("event_type", 2).over(w).alias("t3"))
             .filter(F.col("t3").isNotNull()))
    agg = (paths.groupBy("t1", "t2", "t3")
           .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.countDistinct("user_id").cast("long").alias("n_users")))
    return (agg.orderBy(F.desc("n_users"), F.desc("n_occurrences"),
                        "t1", "t2", "t3")
            .limit(20))


@register("e_range_frame_spend", """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey, day,
       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
            RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS spend_30d_cents
FROM o
""")
def e_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frames — the VALUE-based frame bound the rest of
    the window surface doesn't exercise (r17's moving average is a
    ROWS frame; a RANGE frame widens and narrows with the data: a
    customer with three orders in one week and none for a month gets
    a 3-order trailing window, then a 1-order one). Per order: the
    customer's trailing-30-day spend in exact cents, peers (same-day
    orders) included per SQL RANGE semantics in both engines.

    Scale shape: one window partitioned by o_custkey ordered by the
    integer day key — the partitioned-sort shape every engine
    distributes; no global sort, no join. Exact-cents integers make
    the running sums reduction-order-free."""
    od = load_tables(spark, sf_dir, ["orders"])["orders"]
    day = F.datediff(F.to_date("o_orderdate"),
                     F.lit("1970-01-01")).cast("long")
    w = (Window.partitionBy("o_custkey").orderBy("day")
         .rangeBetween(-29, Window.currentRow))
    return (od.select("o_orderkey", "o_custkey", day.alias("day"),
                      round_half_up_long(F.col("o_totalprice"))
                      .alias("cents"))
            .select("o_orderkey", "o_custkey", "day",
                    F.sum("cents").over(w).cast("long")
                    .alias("spend_30d_cents")))


@register("e_peak_concurrency", """
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(hour(ts) * 60 + minute(ts) AS BIGINT) AS m
  FROM events
),
pu AS (SELECT user_id, day, min(m) AS m0, max(m) AS m1
       FROM e GROUP BY user_id, day),
deltas AS (
  SELECT day, m0 AS minute, 1 AS delta FROM pu
  UNION ALL
  SELECT day, m1 + 1 AS minute, -1 AS delta FROM pu
),
md AS (SELECT day, minute, CAST(sum(delta) AS BIGINT) AS d
       FROM deltas GROUP BY day, minute),
run AS (
  SELECT day, minute,
         sum(d) OVER (PARTITION BY day ORDER BY minute
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS conc
  FROM md
),
nu AS (SELECT day, CAST(count(*) AS BIGINT) AS n_users
       FROM pu GROUP BY day)
SELECT r.day, CAST(max(r.conc) AS BIGINT) AS peak_users,
       CAST(any_value(u.n_users) AS BIGINT) AS n_users
FROM run r JOIN nu u ON u.day = r.day
GROUP BY r.day
""")
def e_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day — the sweep-line interval
    operator (capacity planning's load-duration curve): each user's
    active interval that day is [first event minute, last event
    minute]; +1/-1 boundary deltas, a running sum over the minute
    axis, and the day's maximum is the peak concurrency. Minute
    resolution is the semantic contract, not an approximation — and
    it is what makes the shape scale-honest.

    Scale shape: the interval extraction is one map-side-combinable
    (user, day) aggregate; boundary deltas collapse to a (day,
    minute) frame of at most 1441 rows per day (calendar-bounded), so
    the running-sum window partitioned by day never sees user-scale
    cardinality. At 100 TB the only data-scale stage is the first
    groupBy — everything after runs over calendar-bounded metadata."""
    ev = _events(spark, sf_dir)
    e = ev.select(
        "user_id", _epoch_day().alias("day"),
        (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("m"))
    pu = (e.groupBy("user_id", "day")
          .agg(F.min("m").alias("m0"), F.max("m").alias("m1")))
    # r14: explode symmetrization (one pu evaluation — the two-select
    # union ran the user-day rollup twice) and the per-day user count
    # rides the SAME boundary aggregation as the sweep deltas (each
    # (user, day) contributes exactly one +1 boundary), so the old
    # third pu evaluation for nu is gone. md is calendar-bounded
    # (≤1441 rows/day) — the eager cut is metadata-scale and stops
    # its two consumers (running sum, user rollup) re-running the
    # user-scale groupBy. Plan sweep: 3 events scans -> 1.
    both = F.explode(F.array(
        F.struct(F.col("m0").alias("minute"), F.lit(1).alias("delta")),
        F.struct((F.col("m1") + 1).alias("minute"),
                 F.lit(-1).alias("delta"))))
    deltas = pu.select("day", both.alias("e")).select(
        "day", "e.minute", "e.delta")
    md = (deltas.groupBy("day", "minute")
          .agg(F.sum("delta").cast("long").alias("d"),
               F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
               .cast("long").alias("n_in")))
    # r15: both consumers (running-sum window, per-day user rollup)
    # are day-keyed, so n_in rides THROUGH the window select and one
    # groupBy(day) folds peak and n_users together — md now has a
    # single consumer: no eager checkpoint job, no join (guide §2.4;
    # the e_acf_daily/e_anomaly_mad single-pass discipline). Values
    # identical: max(conc) and sum(n_in) are unchanged aggregates.
    w = (Window.partitionBy("day").orderBy("minute")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = md.select("day", "n_in", F.sum("d").over(w).alias("conc"))
    return (run.groupBy("day")
            .agg(F.max("conc").cast("long").alias("peak_users"),
                 F.sum("n_in").cast("long").alias("n_users"))
            .select("day", "peak_users", "n_users"))


@register("e_lorenz_gini", """
WITH pc AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend
  FROM orders GROUP BY o_custkey
),
rk AS (
  SELECT o_custkey, spend,
         CAST(row_number() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(ntile(10) OVER (ORDER BY spend, o_custkey) AS BIGINT)
           AS decile
  FROM pc
),
g AS (
  SELECT CAST(sum(i * spend) AS BIGINT) AS s_ix,
         CAST(sum(spend) AS BIGINT) AS s_x,
         CAST(max(n) AS BIGINT) AS n
  FROM rk
),
d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(spend) AS BIGINT) AS decile_spend_cents
  FROM rk GROUP BY decile
)
SELECT d.decile, d.n_customers, d.decile_spend_cents,
       CAST(2 * g.s_ix - (g.n + 1) * g.s_x AS BIGINT) AS gini_num,
       CAST(g.n * g.s_x AS BIGINT) AS gini_den
FROM d CROSS JOIN g
""")
def e_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration — Lorenz deciles + the EXACT Gini
    coefficient as an integer fraction (the inequality measure
    marketing/abuse teams read customer concentration from). With
    customers sorted ascending by spend and ranked 1..n, Gini =
    (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) — every term an exact
    cents integer, so the coefficient ships as (gini_num, gini_den)
    and never touches reduction-order-unstable float accumulation.

    Scale shape: rides functions/ranking.global_rank (the round-11
    hardened TeraSort primitive — range shuffle materialized once,
    broadcast offsets, no unpartitioned data window; pass
    durable=True on preemptible clusters) for both the exact rank i
    and the ntile(10) decile; the decile rollup and the three Gini
    sums are map-side-combinable aggregates over the ranked frame,
    fused by a 10-row x 1-row broadcast cross join."""
    from .functions.ranking import global_rank, ntile_expr

    od = load_tables(spark, sf_dir, ["orders"])["orders"]
    pc = (od.groupBy("o_custkey")
          .agg(F.sum(round_half_up_long(F.col("o_totalprice")))
               .cast("long").alias("spend")))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rk = (global_rank(pc, [F.col("spend").asc(),
                           F.col("o_custkey").asc()], n_part,
                      rank_col="i", total_col="n")
          .withColumn("decile", ntile_expr("i", "n", 10)))
    g = rk.agg((F.sum(F.col("i") * F.col("spend"))).cast("long")
               .alias("s_ix"),
               F.sum("spend").cast("long").alias("s_x"),
               F.max("n").cast("long").alias("n"))
    d = (rk.groupBy("decile")
         .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
              F.sum("spend").cast("long").alias("decile_spend_cents")))
    return (d.crossJoin(F.broadcast(g))
            .select("decile", "n_customers", "decile_spend_cents",
                    (2 * F.col("s_ix") - (F.col("n") + 1) * F.col("s_x"))
                    .cast("long").alias("gini_num"),
                    (F.col("n") * F.col("s_x")).cast("long")
                    .alias("gini_den")))


@register("e_did_analysis", """
WITH daily AS (
  SELECT user_id % 2 AS arm,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id % 2,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
),
sp AS (
  SELECT arm, day, cnt,
         min(day) OVER () AS mind, max(day) OVER () AS maxd,
         (min(day) OVER () + max(day) OVER () + 1) // 2 AS mid
  FROM daily
),
cells AS (
  SELECT arm, day >= mid AS post, CAST(sum(cnt) AS BIGINT) AS total,
         CAST(any_value(mid - mind) AS BIGINT) AS d_pre,
         CAST(any_value(maxd - mid + 1) AS BIGINT) AS d_post
  FROM sp GROUP BY arm, day >= mid
),
wide AS (
  SELECT max(CASE WHEN arm = 0 AND NOT post THEN total END) AS c_pre,
         max(CASE WHEN arm = 0 AND post THEN total END) AS c_post,
         max(CASE WHEN arm = 1 AND NOT post THEN total END) AS t_pre,
         max(CASE WHEN arm = 1 AND post THEN total END) AS t_post,
         max(d_pre) AS d_pre, max(d_post) AS d_post
  FROM cells
)
SELECT CAST(d_pre AS BIGINT) AS n_pre_days,
       CAST(d_post AS BIGINT) AS n_post_days,
       CAST(c_pre AS BIGINT) AS ctl_pre, CAST(c_post AS BIGINT) AS ctl_post,
       CAST(t_pre AS BIGINT) AS trt_pre, CAST(t_post AS BIGINT) AS trt_post,
       CAST((t_post - c_post) * d_pre - (t_pre - c_pre) * d_post
            AS BIGINT) AS did_num,
       CAST(d_pre * d_post AS BIGINT) AS did_den,
       ((t_post - c_post) * d_pre - (t_pre - c_pre) * d_post) * 1e0
         / (d_pre * d_post) AS did_daily
FROM wide
""")
def e_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator
    (Card & Krueger 1994's workhorse) that completes the
    experimentation suite beside e_ab_test's randomized z-test: arms
    from the user_id parity assignment, the pre/post cut at the
    corpus midpoint day, outcome = daily purchase volume. DiD =
    (treat_post_rate - treat_pre_rate) - (control_post_rate -
    control_pre_rate), shipped as the exact integer fraction
    (did_num, did_den) over calendar-day denominators — the single
    IEEE division ships alongside, never accumulates.

    Scale shape: the only data-scale stage is the filtered (arm, day)
    purchase rollup (map-side combinable, calendar x 2 keys); the
    midpoint derives from a window over THAT bounded frame (the
    e_kaplan_meier single-scan rollup trick — no second events scan,
    no broadcast-join of a scalar), and the cell pivot is a 4-row
    aggregate."""
    ev = _events(spark, sf_dir)
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy((F.col("user_id") % 2).alias("arm"),
                      _epoch_day().alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w_all = (Window.orderBy("day")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    sp = daily.select(
        "arm", "day", "cnt",
        F.min("day").over(w_all).alias("mind"),
        F.max("day").over(w_all).alias("maxd"),
        ((F.min("day").over(w_all) + F.max("day").over(w_all) + 1)
         / 2).cast("long").alias("mid"))
    cells = (sp.groupBy("arm", (F.col("day") >= F.col("mid"))
                        .alias("post"))
             .agg(F.sum("cnt").cast("long").alias("total"),
                  F.max(F.col("mid") - F.col("mind")).cast("long")
                  .alias("d_pre"),
                  F.max(F.col("maxd") - F.col("mid") + 1).cast("long")
                  .alias("d_post")))
    def cell(a, p):
        return F.max(F.when((F.col("arm") == a) &
                            (F.col("post") == p), F.col("total")))
    wide = cells.agg(
        cell(0, False).alias("c_pre"), cell(0, True).alias("c_post"),
        cell(1, False).alias("t_pre"), cell(1, True).alias("t_post"),
        F.max("d_pre").alias("d_pre"), F.max("d_post").alias("d_post"))
    num = ((F.col("t_post") - F.col("c_post")) * F.col("d_pre")
           - (F.col("t_pre") - F.col("c_pre")) * F.col("d_post"))
    den = F.col("d_pre") * F.col("d_post")
    return wide.select(
        F.col("d_pre").cast("long").alias("n_pre_days"),
        F.col("d_post").cast("long").alias("n_post_days"),
        F.col("c_pre").cast("long").alias("ctl_pre"),
        F.col("c_post").cast("long").alias("ctl_post"),
        F.col("t_pre").cast("long").alias("trt_pre"),
        F.col("t_post").cast("long").alias("trt_post"),
        num.cast("long").alias("did_num"),
        den.cast("long").alias("did_den"),
        (num * 1e0 / den).alias("did_daily"))


@register("e_cohort_ltv", """
WITH p AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS week,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
),
off AS (
  SELECT user_id, week, cents,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM p
),
cell AS (
  SELECT cohort_week, week - cohort_week AS week_offset,
         CAST(sum(cents) AS BIGINT) AS week_rev_cents,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
  FROM off GROUP BY cohort_week, week - cohort_week
),
run AS (
  SELECT cohort_week, week_offset, n_active_users, week_rev_cents,
         CAST(first_value(n_active_users) OVER w AS BIGINT)
           AS n_cohort_users,
         CAST(sum(week_rev_cents) OVER w AS BIGINT) AS cum_rev_cents
  FROM cell
  WINDOW w AS (PARTITION BY cohort_week ORDER BY week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort_week, week_offset, n_cohort_users, n_active_users,
       week_rev_cents, cum_rev_cents,
       cum_rev_cents * 1e0 / n_cohort_users AS ltv_per_user
FROM run
""")
def e_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — the VALUE-based sibling of
    e_cohort_retention's count triangle (the growth-analytics
    lifetime-value readout: how much has the week-W cohort spent by
    week-offset K, per acquired user). Revenue in exact cents; the
    cumulative LTV is a running sum over the cohort's offset axis
    and the only float is the final per-user division.

    Scale shape: ONE subtree, no join-back — the raw stream reduces
    to per-(user, week) cents (map-side combinable), the cohort week
    is a window min reusing the user partitioning (the retention
    shape), and the cohort SIZE falls out of the triangle itself:
    every user is active in their own first week by construction, so
    n_cohort_users = the offset-0 cell's active count, recovered with
    first_value over the offset-ordered window — no second pass over
    the stream, no size join. All windows beyond the per-user min run
    over the calendar²-bounded (cohort, offset) triangle."""
    ev = _events(spark, sf_dir)
    week = F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                   / 7).cast("long")
    p = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("user_id", week.alias("week"))
         .agg(F.sum(round_half_up_long(F.col("value"))).cast("long")
              .alias("cents")))
    off = p.select(
        "user_id", "week", "cents",
        F.min("week").over(Window.partitionBy("user_id"))
        .alias("cohort_week"))
    cell = (off.groupBy("cohort_week",
                        (F.col("week") - F.col("cohort_week"))
                        .alias("week_offset"))
            .agg(F.sum("cents").cast("long").alias("week_rev_cents"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_active_users")))
    w = (Window.partitionBy("cohort_week").orderBy("week_offset")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = cell.select(
        "cohort_week", "week_offset", "n_active_users",
        "week_rev_cents",
        F.first("n_active_users").over(w).cast("long")
        .alias("n_cohort_users"),
        F.sum("week_rev_cents").over(w).cast("long")
        .alias("cum_rev_cents"))
    return run.select(
        "cohort_week", "week_offset", "n_cohort_users",
        "n_active_users", "week_rev_cents", "cum_rev_cents",
        (F.col("cum_rev_cents") * 1e0 / F.col("n_cohort_users"))
        .alias("ltv_per_user"))


@register("e_dau_mau_stickiness", """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        FROM ud GROUP BY day),
cover AS (
  SELECT DISTINCT ud.user_id, ud.day + k.k AS day
  FROM ud, unnest(range(0, 30)) AS k(k)
),
mau AS (SELECT day, CAST(count(*) AS BIGINT) AS mau
        FROM cover GROUP BY day)
SELECT d.day, d.dau, m.mau, d.dau * 1e0 / m.mau AS stickiness
FROM dau d JOIN mau m ON m.day = d.day
""")
def e_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — the growth metric (how much of the
    trailing-30-day audience shows up on a given day), with the MAU
    side EXACT: x_hll_sliding_window is this metric's mergeable-
    sketch approximation; this is its exact twin, and the pairing is
    the engine's standard exact/scalable story (rfm, hausdorff,
    hybrid). Exact sliding-window DISTINCT is made tractable by the
    coverage expansion: each active (user, day) covers the 30 days
    it keeps that user in the window for, and after the (user,
    covered-day) dedup the trailing-window distinct collapses to a
    plain per-day count — a bounded 30x fan-out of the (user, day)
    frame (already reduced from raw events), never a per-day rescan
    of user history. Only days with activity are reported (the DAU
    side's join prunes the covered-but-idle tail), and the single
    float is the final ratio."""
    ev = _events(spark, sf_dir)
    # r15: the r14 form checkpointed ud and ran THREE more shuffles
    # over it (DAU rollup; coverage distinct; MAU rollup) plus a join.
    # Fold DAU into the coverage expansion instead (guide §2.4): tag
    # each covered (user, day) with whether it is the user's ACTIVE
    # day (offset 0), dedup via groupBy(user, day) keeping max(flag)
    # — identical membership to the old distinct, and the flag marks
    # exactly the (user, day) rows of ud — then one per-day aggregate
    # yields mau = count(*) and dau = sum(flag). dau > 0 filters to
    # the active days the old inner join kept. One consumer of ud →
    # no checkpoint; 2 shuffles + no join instead of 4 + join.
    ud = ev.select("user_id", _epoch_day().alias("day")).distinct()
    cover = (ud.select(
        "user_id", F.col("day").alias("d0"),
        F.explode(F.sequence(F.col("day"), F.col("day") + 29))
        .alias("day"))
        .groupBy("user_id", "day")
        .agg(F.max((F.col("d0") == F.col("day")).cast("long"))
             .alias("active")))
    return (cover.groupBy("day")
            .agg(F.sum("active").cast("long").alias("dau"),
                 F.count(F.lit(1)).cast("long").alias("mau"))
            .filter(F.col("dau") > 0)
            .select("day", "dau", "mau",
                    (F.col("dau") * 1e0 / F.col("mau"))
                    .alias("stickiness")))


# --- Shapley-value channel attribution (round 13) ------------------------------

@register("e_attribution_shapley", """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b_click,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS b_error,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS b_signup,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b_view,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
coh AS (
  SELECT b_click + 2 * b_error + 4 * b_signup + 8 * b_view AS mask,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
  FROM pu GROUP BY 1
),
rates AS (SELECT mask, CAST((1000000 * c) // n AS BIGINT) AS r FROM coh),
channels AS (
  SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                        ('error', CAST(2 AS BIGINT)),
                        ('signup', CAST(4 AS BIGINT)),
                        ('view', CAST(8 AS BIGINT))) AS t(channel, bit)
),
masks AS (SELECT unnest(range(16)) AS m),
shap AS (
  SELECT ch.channel,
         CAST(sum((CASE bit_count(s.m) WHEN 0 THEN 6 WHEN 1 THEN 2
                   WHEN 2 THEN 2 ELSE 6 END)
                  * (COALESCE(r1.r, 0) - COALESCE(r0.r, 0)))
              AS BIGINT) AS shapley_micro_24
  FROM channels ch JOIN masks s ON (s.m & ch.bit) = 0
  LEFT JOIN rates r1 ON r1.mask = (s.m | ch.bit)
  LEFT JOIN rates r0 ON r0.mask = s.m
  GROUP BY ch.channel
),
expo AS (
  SELECT ch.channel, CAST(sum(co.n) AS BIGINT) AS n_exposed,
         CAST(sum(co.c) AS BIGINT) AS n_conv_exposed
  FROM channels ch JOIN coh co ON (co.mask & ch.bit) <> 0
  GROUP BY ch.channel
)
SELECT s.channel, e.n_exposed, e.n_conv_exposed, s.shapley_micro_24,
       s.shapley_micro_24 / 24000000.0 AS shapley_rate
FROM shap s JOIN expo e USING (channel)
""")
def e_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution (Shapley 1953 applied to
    marketing touchpoints, Zhao et al. 2018's data-driven game): the
    coalition value v(S) is the MEASURED conversion rate of the user
    cohort whose exposure set is exactly S (channels = the four
    non-purchase event types; conversion = any purchase), and each
    channel's credit is its exact Shapley value over the 2^4
    coalition lattice — the attribution that, unlike last-touch or
    e_attribution_linear's uniform split, prices in channel
    SYNERGIES (a channel that only converts in combination still
    earns its marginal contributions).

    Exactness: cohort rates quantize to micro-units by integer floor
    ((1e6*conv) DIV n — both engines floor positives identically),
    and the Shapley weights |S|!(3-|S|)!/4! clear to integers by
    carrying the 4! = 24: shapley_micro_24 = sum over S not
    containing c of w(|S|)*(r(S+c) - r(S)), w in {6,2,2,6} — an
    exact (possibly negative) int64; the headline rate ships as ONE
    IEEE division by 24e6. Cohorts absent from the data contribute
    rate 0 (documented measured-game convention).

    Scale shape: ONE events scan -> per-user conditional-max bitmask
    + converted flag (map-side combinable), a 16-row cohort rollup,
    and the whole lattice walk (4 channels x 8 subsets) over
    broadcast metadata frames. k channels cost 2^k metadata rows —
    the standard k<=10 attribution regime — while the data pass
    stays linear."""
    ev = _events(spark, sf_dir)
    bit_of = {"click": 1, "error": 2, "signup": 4, "view": 8}
    aggs = [F.max(F.when(F.col("event_type") == t, 1).otherwise(0))
            .alias(f"b_{t}") for t in bit_of]
    pu = ev.groupBy("user_id").agg(
        *aggs,
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("conv"))
    # r14: eager cut — coh is a 16-row cohort frame but feeds THREE
    # subtrees (r1, r0, expo), each of which re-ran the events scan +
    # per-user rollup (plan sweep: 3 scans -> 1)
    coh = (pu.groupBy(
        (F.col("b_click") + 2 * F.col("b_error") + 4 * F.col("b_signup")
         + 8 * F.col("b_view")).cast("long").alias("mask"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("conv").cast("long").alias("c"))
        .localCheckpoint(eager=True))
    rates = coh.select("mask",
                       F.expr("(1000000 * c) DIV n").cast("long")
                       .alias("r"))
    # the 2^4 coalition lattice is PURE metadata (4 channels x 8
    # subsets of the other three, Shapley weight |S|!(3-|S|)!): built
    # driver-side so the plan carries no non-equi metadata join (the
    # engine-wide no-CartesianProduct invariant holds for all 317
    # plans, even 64-row ones)
    wt = {0: 6, 1: 2, 2: 2, 3: 6}
    lattice = local_df(spark,
        [(ch, bit, m, wt[bin(m).count("1")])
         for ch, bit in sorted(bit_of.items())
         for m in range(16) if (m & bit) == 0],
        "channel string, bit long, m long, w long")
    r1 = rates.select(F.col("mask").alias("m1"), F.col("r").alias("r1"))
    r0 = rates.select(F.col("mask").alias("m0"), F.col("r").alias("r0"))
    shap = (lattice
            .join(F.broadcast(r1), F.expr("m1 = (m | bit)"), "left")
            .join(F.broadcast(r0), F.expr("m0 = m"), "left")
            .groupBy("channel")
            .agg(F.sum(F.col("w") * (F.coalesce("r1", F.lit(0))
                                     - F.coalesce("r0", F.lit(0))))
                 .cast("long").alias("shapley_micro_24")))
    # per-channel exposure: explode each 16-row cohort over the four
    # channel bits it contains — an in-row generator, not a join
    chan_arr = "array({})".format(", ".join(
        f"struct('{ch}' AS channel, {bit}L AS bit)"
        for ch, bit in sorted(bit_of.items())))
    expo = (coh.select("mask", "n", "c",
                       F.explode(F.expr(chan_arr)).alias("ch"))
            .filter(F.expr("(mask & ch.bit) <> 0"))
            .select(F.col("ch.channel").alias("channel"), "n", "c")
            .groupBy("channel")
            .agg(F.sum("n").cast("long").alias("n_exposed"),
                 F.sum("c").cast("long").alias("n_conv_exposed")))
    return (shap.join(expo, "channel")
            .select("channel", "n_exposed", "n_conv_exposed",
                    "shapley_micro_24",
                    (F.col("shapley_micro_24") / F.lit(24000000.0))
                    .alias("shapley_rate")))


# --- inter-arrival latency profile (round 13) -----------------------------------

@register("e_interarrival_profile", """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
gaps AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 1000000
              - epoch_us(prev_ts) // 1000000 AS BIGINT) AS gap_s
  FROM seq WHERE prev_ts IS NOT NULL
)
SELECT event_type,
       CAST(length(bin(gap_s + 1)) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(gap_s) AS BIGINT) AS min_s,
       CAST(max(gap_s) AS BIGINT) AS max_s
FROM gaps GROUP BY event_type, bucket
""")
def e_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type INTER-ARRIVAL latency histogram on power-of-two
    buckets — the heavy-tailed-distribution readout (latency
    histograms, retention gaps, session spacing) a fixed-width
    histogram wastes buckets on. The bucket key is
    length(bin(gap+1)) = floor(log2(gap+1)) + 1 — the binary-string
    length replaces the libm log2 with an EXACT integer in both
    engines (the engine's no-cross-engine-libm discipline); gaps
    diff whole-second floors of each timestamp (Spark unix_timestamp
    truncation == DuckDB epoch_us // 1e6 — no double epoch, no
    fractional-boundary off-by-one).

    Scale shape: one lag window PARTITIONED BY (user, type) — the
    per-entity ordering every sessionizer already pays, never a
    global sort; then a (type, bucket)-keyed map-side-combinable
    aggregate over a bounded key space (|types| x ~40 buckets)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id")
    seq = ev.withColumn("prev_ts", F.lag("ts").over(w))
    # each timestamp floors to whole epoch seconds FIRST (Spark
    # unix_timestamp truncation == DuckDB epoch_us // 1e6), then
    # diffs — a floor of the raw microsecond difference would
    # disagree with the oracle by one around fractional boundaries
    gaps = (seq.filter(F.col("prev_ts").isNotNull())
            .select("event_type",
                    (F.unix_timestamp("ts")
                     - F.unix_timestamp("prev_ts"))
                    .cast("long").alias("gap_s")))
    return (gaps.groupBy(
        "event_type",
        F.length(F.bin(F.col("gap_s") + 1)).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.min("gap_s").cast("long").alias("min_s"),
             F.max("gap_s").cast("long").alias("max_s")))


@register("e_ols_trend", """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
d0 AS (SELECT min(day) AS day0 FROM daily),
xy AS (
  SELECT event_type,
         CAST(datediff('day', d0.day0, daily.day) AS BIGINT) AS x,
         cents AS y
  FROM daily CROSS JOIN d0
),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2,
         CAST(sum(y * y) AS BIGINT) AS sy2
  FROM xy GROUP BY event_type
)
SELECT event_type, n AS n_days,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sx2 - sx * sx AS BIGINT) AS slope_den,
       (n * sxy - sx * sy) * 1e0 / (n * sx2 - sx * sx) AS slope_cents_per_day,
       ((n * sxy - sx * sy) * 1e0 * (n * sxy - sx * sy))
         / ((n * sx2 - sx * sx) * 1e0 * (n * sy2 - sy * sy)) AS r2
FROM s WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
""")
def e_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type DAILY REVENUE TREND by closed-form ordinary
    least squares — slope (cents/day) and R² of daily revenue against
    a day index, the "is this metric growing and how confidently"
    primitive behind every product dashboard. The normal equations
    need only five sums (n, Σx, Σy, Σxy, Σx², Σy²), so the slope
    ships as the EXACT BIGINT pair (slope_num, slope_den) =
    (nΣxy − ΣxΣy, nΣx² − (Σx)²); the float slope and R² are single
    identical-shape division chains over those exact integers
    (div/mul are correctly rounded IEEE — the engine's
    no-cross-engine-libm discipline). Constant-revenue types
    (Σyy variance 0) and single-day types are excluded: R² undefined.

    Scale shape: ONE map-side-combinable aggregate to daily cents
    (bounded key space |types| × |days|), a broadcast 1-row min-day,
    then a second bounded aggregate to the per-type sum tuple — no
    window, no sort, nothing scales beyond the daily rollup.
    int64 headroom: the largest product is n·Σxy ≤ n²·x_max·y_max —
    a 10-year daily series (n = x_max = 3650) holds to ~2·10⁸ cents
    (~$2M) of PEAK daily revenue before nearing 2⁶³; past that
    envelope, re-index x per type and drop to the centered-sums
    double form (slope stays one identical-shape float chain). The
    graded frames sit five orders below the cliff."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
             .agg(F.sum(round_half_up_long(F.col("value"), 100))
                  .cast("long").alias("cents")))
    # r14: day0 as a window min over the bounded |types|x|days| rollup
    # — the 1-row-agg + crossJoin form re-ran the events scan + daily
    # rollup once per consumer (guide §2.4): 2 events passes -> 1.
    xy = (daily.withColumn("day0", F.min("day").over(Window.partitionBy()))
          .select("event_type",
                  F.datediff(F.col("day"), F.col("day0")).cast("long")
                  .alias("x"),
                  F.col("cents").alias("y")))
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    syy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    return (s.filter((den > 0) & (syy > 0))
            .select("event_type", F.col("n").alias("n_days"),
                    num.cast("long").alias("slope_num"),
                    den.cast("long").alias("slope_den"),
                    (num * F.lit(1.0) / den).alias("slope_cents_per_day"),
                    ((num * F.lit(1.0) * num) / (den * F.lit(1.0) * syy))
                    .alias("r2")))


@register("e_simpson_diversity", """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
u AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * (c - 1)) AS BIGINT) AS same_pairs
  FROM c GROUP BY user_id
)
SELECT user_id, n_events, n_types, same_pairs,
       CAST(n_events * (n_events - 1) AS BIGINT) AS all_pairs,
       1e0 - same_pairs * 1e0 / (n_events * (n_events - 1))
         AS gini_simpson
FROM u WHERE n_events >= 2
""")
def e_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user BEHAVIORAL DIVERSITY by the Gini–Simpson index
    (Simpson 1949): 1 − Σc_t(c_t−1)/(n(n−1)) — the probability two of
    the user's events (sampled without replacement) are of DIFFERENT
    types. The log-free twin of Shannon entropy: every term is an
    exact integer pair count, so the index ships as BIGINT
    (same_pairs, all_pairs) plus one identical-shape float division —
    no libm, no accumulation-order drift. Users with one event are
    excluded (undefined without-replacement sample).

    Scale shape: two chained map-side-combinable aggregates — the
    (user, type) rollup reduces the fact table before anything else,
    and the per-user fold runs on that reduced frame; no window, no
    sort, no join. The output is one row per ≥2-event user, exactly
    as partitioned as the (user)-keyed shuffle that built it."""
    ev = _events(spark, sf_dir)
    c = (ev.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("c")))
    u = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long")
        .alias("same_pairs"))
    allp = F.col("n_events") * (F.col("n_events") - 1)
    return (u.filter(F.col("n_events") >= 2)
            .select("user_id", "n_events", "n_types", "same_pairs",
                    allp.cast("long").alias("all_pairs"),
                    (F.lit(1.0) - F.col("same_pairs") * F.lit(1.0) / allp)
                    .alias("gini_simpson")))


@register("e_window_funnel", """
WITH base AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              ELSE 3 END AS code
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
s1 AS (SELECT DISTINCT user_id FROM base WHERE code = 1),
s2 AS (
  SELECT DISTINCT v.user_id
  FROM base v JOIN base c ON c.user_id = v.user_id
   AND v.code = 1 AND c.code = 2
   AND (c.sec > v.sec OR (c.sec = v.sec AND c.event_id > v.event_id))
   AND c.sec - v.sec <= 3600
),
s3 AS (
  SELECT DISTINCT v.user_id
  FROM base v
  JOIN base c ON c.user_id = v.user_id AND v.code = 1 AND c.code = 2
   AND (c.sec > v.sec OR (c.sec = v.sec AND c.event_id > v.event_id))
   AND c.sec - v.sec <= 3600
  JOIN base p ON p.user_id = v.user_id AND p.code = 3
   AND (p.sec > c.sec OR (p.sec = c.sec AND p.event_id > c.event_id))
   AND p.sec - v.sec <= 3600
)
SELECT s1.user_id,
       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                 WHEN s2.user_id IS NOT NULL THEN 2
                 ELSE 1 END AS BIGINT) AS wf_stage
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
""")
def e_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel(3600s): the deepest
    view→click→purchase chain per user where EVERY step lands within
    one hour of the chain's FIRST event — e_funnel's same-day
    heuristic replaced by the sliding-window semantics real funnel
    analysis uses. Computed as the classic single-pass DP over each
    user's (sec, event_id)-ordered sequence: b_s = the LATEST chain
    start among chains reaching stage s; an event of type s promotes
    b_{s-1} iff t − b_{s-1} ≤ W (keeping the max start dominates —
    any chain the max start can't extend, no chain can). Whole-second
    epoch arithmetic (Spark unix_timestamp truncation ≡ DuckDB
    epoch_us // 1e6 — the e_interarrival_profile pin); the oracle is
    the declarative EXISTS-chain form, equal to the DP because
    position order makes seconds non-decreasing along any chain.

    Scale shape: one (user)-keyed groupBy into a sorted in-array
    fold — the per-user sequence every sessionizer already pays, the
    accumulator O(stages) regardless of history length; never a
    3-way event self-join (the oracle's shape — quadratic per user —
    is exactly what the DP avoids at 100 TB)."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase"))
    base = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("sec"),
        "event_id",
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3).cast("long").alias("code"))
    arr = (base.groupBy("user_id")
           .agg(F.sort_array(F.collect_list(
               F.struct("sec", "event_id", "code"))).alias("xs")))
    seed = F.struct(F.lit(-1).cast("long").alias("b1"),
                    F.lit(-1).cast("long").alias("b2"),
                    F.lit(-1).cast("long").alias("b3"))
    w = F.lit(3600)

    def step(acc, x):
        b1 = (F.when(x["code"] == 1, F.greatest(acc["b1"], x["sec"]))
              .otherwise(acc["b1"]))
        b2 = (F.when((x["code"] == 2) & (acc["b1"] >= 0)
                     & (x["sec"] - acc["b1"] <= w),
                     F.greatest(acc["b2"], acc["b1"]))
              .otherwise(acc["b2"]))
        b3 = (F.when((x["code"] == 3) & (acc["b2"] >= 0)
                     & (x["sec"] - acc["b2"] <= w),
                     F.greatest(acc["b3"], acc["b2"]))
              .otherwise(acc["b3"]))
        return F.struct(b1.alias("b1"), b2.alias("b2"), b3.alias("b3"))

    fin = F.aggregate(F.col("xs"), seed, step)
    stage = (F.when(fin["b3"] >= 0, 3)
             .when(fin["b2"] >= 0, 2)
             .when(fin["b1"] >= 0, 1)
             .otherwise(0).cast("long"))
    return (arr.select("user_id", stage.alias("wf_stage"))
            .filter(F.col("wf_stage") >= 1))


@register("e_anomaly_mad", """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM daily
),
med AS (SELECT event_type, max(n) AS median_n FROM r1
        WHERE rn = (cnt + 1) // 2 GROUP BY event_type),
dev AS (
  SELECT d.event_type, d.day, d.n, abs(d.n - m.median_n) AS dv,
         m.median_n
  FROM daily d JOIN med m ON m.event_type = d.event_type
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dv, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
),
mad AS (SELECT event_type, max(dv) AS mad_n FROM r2
        WHERE rn = (cnt + 1) // 2 GROUP BY event_type)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(d.median_n) AS BIGINT) AS median_n,
       CAST(max(m2.mad_n) AS BIGINT) AS mad_n,
       CAST(sum(CASE WHEN d.dv > 3 * m2.mad_n THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m2 ON m2.event_type = d.event_type
GROUP BY d.event_type
""")
def e_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST volume-anomaly detection by median absolute deviation —
    the outlier rule (|x − median| > 3·MAD, Hampel's k≈3) that, unlike
    e_volume_anomaly's trailing z-test, a burst cannot poison: both
    the center and the spread are medians, with breakdown point 50%.
    Medians are EXACT nearest-rank-lower order statistics at position
    (n+1) DIV 2 with (value, day) tie-broken ordering — integers end
    to end, no averaging of middle pairs, no float. A zero MAD
    (majority-constant series) flags every deviating day, the
    documented degenerate case of the rule.

    Scale shape: the fact table reduces to (type, day) FIRST; both
    rank passes are windows partitioned by event type over that
    calendar-bounded frame (≤ |types|·|days| rows), and the two
    median frames are vocabulary-sized broadcast joins back. Nothing
    beyond the initial rollup scales with event volume."""
    ev = _events(spark, sf_dir)
    # r15: no checkpoint, no join-backs — the per-type median IS a
    # window aggregate over the same event_type partition as the rank
    # pass (max of the one row where rn hits the middle position), so
    # BOTH medians attach as chained window expressions over ONE
    # daily rollup (guide §2.4: windows sharing the partition key
    # share the exchange). The r14 form checkpointed daily and
    # broadcast-joined med and mad back (a checkpoint job + 2 joins
    # per action); values are identical — max(case rn = mid then n)
    # over the partition is exactly the old med/mad aggregate.
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    wt = Window.partitionBy("event_type")
    mid = "(cnt + 1) DIV 2"
    r1 = (daily.withColumn("rn", F.row_number().over(
             wt.orderBy("n", "day")))
          .withColumn("cnt", F.count(F.lit(1)).over(wt)))
    dev = (r1.withColumn(
               "median_n",
               F.max(F.when(F.col("rn") == F.expr(mid), F.col("n")))
               .over(wt))
           .withColumn("dv", F.abs(F.col("n") - F.col("median_n"))))
    r2 = dev.withColumn("rn2", F.row_number().over(wt.orderBy("dv", "day")))
    final = r2.withColumn(
        "mad_n",
        F.max(F.when(F.col("rn2") == F.expr(mid), F.col("dv"))).over(wt))
    return (final
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.max("median_n").cast("long").alias("median_n"),
                 F.max("mad_n").cast("long").alias("mad_n"),
                 F.sum(F.when(F.col("dv") > 3 * F.col("mad_n"), 1)
                       .otherwise(0)).cast("long").alias("n_outliers")))


import math as _math

_BENFORD_PPM = {d: _math.floor(_math.log10(1 + 1 / d) * 1_000_000)
                for d in range(1, 10)}
_BENFORD_CASE = ("CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()) + " END")


@register("e_benford_digits", f"""
WITH c AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
  WHERE value > 0
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM c WHERE cents > 0
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
SELECT digit, CAST(count(*) AS BIGINT) AS n,
       CAST(1000000 * count(*) // t.total AS BIGINT) AS observed_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm
FROM d CROSS JOIN t GROUP BY digit, t.total
""")
def e_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit profile of transaction values — the
    forensic-accounting screen (Benford 1938, Nigrini's fraud test):
    observed leading-digit frequencies in ppm beside the expected
    log10(1+1/d) ppm. The expectation constants are computed ONCE in
    the driver's Python and inlined as identical integer literals
    into BOTH the Spark plan and the oracle SQL — the engine's
    no-cross-engine-libm rule applied to constants (each engine
    evaluating log10 itself could disagree in the last ulp and flip
    a floor). Digits come from exact integer cents via string head —
    no float log10/pow path. The chi-square decision is one
    driver-side fold over these 9 exact rows.

    Scale shape: one map-side-combinable 9-key aggregate plus a
    broadcast 1-row total — nothing else touches the fact table."""
    ev = _events(spark, sf_dir).filter(F.col("value") > 0)
    cents = ev.select(round_half_up_long(F.col("value"), 100).alias("cents"))
    d = (cents.filter(F.col("cents") > 0)
         .select(F.substring(F.col("cents").cast("string"), 1, 1)
                 .cast("long").alias("digit")))
    benford = F.create_map(*[F.lit(x) for kv in _BENFORD_PPM.items()
                             for x in kv])
    # r14: the grand total is the SUM of the 9 digit counts — a
    # global window over the aggregated 9-row frame — so the separate
    # 1-row count agg (a second full events scan) is gone
    # (plan sweep: 2 scans -> 1)
    counts = (d.groupBy("digit")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    total = F.sum("n").over(Window.partitionBy())
    return (counts.withColumn("total", total)
            .select("digit", "n",
                    F.expr("1000000 * n DIV total").cast("long")
                    .alias("observed_ppm"),
                    benford[F.col("digit")].cast("long")
                    .alias("benford_ppm")))


@register("e_conversion_wilson", """
WITH seen AS (
  SELECT user_id, event_type FROM events
  WHERE event_type <> 'purchase' GROUP BY user_id, event_type
),
conv AS (
  SELECT user_id, CAST(1 AS BIGINT) AS converted FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
arms AS (
  SELECT s.event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c.converted IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM seen s LEFT JOIN conv c ON c.user_id = s.user_id
  GROUP BY s.event_type
)
SELECT event_type, n, c, c * 1e0 / n AS rate,
       ((c + 2) * 1e0 - 2 * sqrt(c * 1e0 * (n - c) / n + 1)) / (n + 4)
         AS wilson_lo,
       ((c + 2) * 1e0 + 2 * sqrt(c * 1e0 * (n - c) / n + 1)) / (n + 4)
         AS wilson_hi
FROM arms
""")
def e_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE INTERVAL (z=2) for each engagement type's
    user-level conversion rate — the binomial CI that behaves at
    small n and extreme rates where the naive Wald interval collapses
    (Wilson 1927; what real dashboards put error bars on). With z=2
    exactly, the bounds reduce to ((c+2) ± 2·√(c(n−c)/n + 1))/(n+4):
    every input is an exact integer count and the float chain is
    mul/div/sqrt only — all IEEE correctly rounded, so both engines
    produce bit-identical bounds (the no-libm discipline: sqrt is
    allowed, log/exp are not).

    Scale shape: the (user, type) distinct and the converter set are
    map-side-combinable aggregates; the LEFT join is user-keyed on
    frames already reduced to one row per user(-type); the interval
    math runs on the |types|-row result."""
    ev = _events(spark, sf_dir)
    seen = (ev.filter(F.col("event_type") != "purchase")
            .select("user_id", "event_type").distinct())
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id").distinct()
            .withColumn("converted", F.lit(1).cast("long")))
    arms = (seen.join(conv, "user_id", "left")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.when(F.col("converted").isNotNull(), 1)
                       .otherwise(0)).cast("long").alias("c")))
    n, c = F.col("n"), F.col("c")
    half = 2 * F.sqrt(c * F.lit(1.0) * (n - c) / n + 1)
    return arms.select(
        "event_type", "n", "c",
        (c * F.lit(1.0) / n).alias("rate"),
        (((c + 2) * F.lit(1.0) - half) / (n + 4)).alias("wilson_lo"),
        (((c + 2) * F.lit(1.0) + half) / (n + 4)).alias("wilson_hi"))


@register("e_rolling_p90", """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
scatter AS (
  SELECT d.event_type, d.d + CAST(o.k AS INTEGER) AS target_d, d.n
  FROM daily d CROSS JOIN (SELECT unnest(range(0, 7)) AS k) o
),
win AS (
  SELECT s.event_type, s.target_d AS d,
         list_sort(list(s.n)) AS xs
  FROM scatter s
  JOIN daily t ON t.event_type = s.event_type AND t.d = s.target_d
  GROUP BY s.event_type, s.target_d
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(len(xs) AS BIGINT) AS m,
       CAST(xs[CAST(ceil(len(xs) * 9 * 1e0 / 10) AS BIGINT)] AS BIGINT)
         AS p90_n
FROM win
""")
def e_rolling_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING ORDER STATISTIC — exact trailing-7-calendar-day p90 of
    daily event volume per type (nearest-rank ceil(0.9·m) over the
    m ≤ 7 observed days in the window), the robust rolling baseline
    percentile alerting compares against (e_volume_anomaly's mean/σ
    is burst-poisonable; a rolling p90 is not). Exact integers end to
    end: the rank index ceil(9m/10) is integer arithmetic on m ≤ 7
    and the selected value is a BIGINT count.

    Scale shape: rolling windows of an order statistic can't be
    running-sum'd, so the window MATERIALIZES — but over the
    calendar-bounded daily rollup, not the fact table: each (type,
    day) row scatters to its ≤7 target days (the c50/c28 forward-
    shift trick on the time axis — an EQUI-join, no range join), and
    an in-array sort of ≤7 elements picks the rank. At 100 TB the
    scatter is 7× the |types|·|days| frame — nothing scales with
    event volume past the first rollup."""
    ev = _events(spark, sf_dir)
    # r15: the r14 form (daily rollup checkpointed, 7-day scatter
    # explode, join back to the observed-day side) paid a checkpoint
    # job, a 7x explode and a join per action. The trailing window is
    # a fixed integer time range, so a RANGE window over the day
    # index replaces scatter+join outright (guide §2.4, the
    # e_acf_daily rewrite): collect_list over range(-6, 0) gathers
    # exactly the observed days d' with t-6 <= d' <= t for each
    # OBSERVED target day t — the same contributor multiset the join
    # matched (daily holds only observed days, so frame membership ==
    # join match). One events scan, no checkpoint, no explode, no
    # join; the window runs over the calendar-bounded rollup.
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).cast("long").alias("n"))
             .withColumn("di", F.datediff(
                 F.col("d"), F.lit("1970-01-01").cast("date"))))
    w7 = (Window.partitionBy("event_type").orderBy("di")
          .rangeBetween(-6, 0))
    win = daily.select(
        "event_type", F.col("d").alias("target_d"),
        F.sort_array(F.collect_list("n").over(w7)).alias("xs"))
    m = F.size("xs")
    rank = F.ceil(m * 9 * F.lit(1.0) / 10).cast("int")
    return win.select(
        "event_type",
        F.date_format("target_d", "yyyy-MM-dd").alias("day"),
        m.cast("long").alias("m"),
        F.element_at("xs", rank).cast("long").alias("p90_n"))


@register("e_holt_winters", """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, n,
         CAST(d - DATE '1970-01-01' AS BIGINT) AS ed,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
         count(*) OVER (PARTITION BY event_type) AS total
  FROM daily
),
rec AS (
  SELECT event_type, CAST(1 AS BIGINT) AS i, ed,
         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
         [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0] AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, idx.ed,
         0.5 * (idx.n - rec.s[CAST(idx.ed % 7 AS INTEGER) + 1])
           + 0.5 * (rec.l + rec.b),
         0.25 * ((0.5 * (idx.n - rec.s[CAST(idx.ed % 7 AS INTEGER) + 1])
                  + 0.5 * (rec.l + rec.b)) - rec.l) + 0.75 * rec.b,
         list_transform(range(7), j -> CASE WHEN j = idx.ed % 7
           THEN 0.25 * (idx.n
                        - (0.5 * (idx.n
                                  - rec.s[CAST(idx.ed % 7 AS INTEGER) + 1])
                           + 0.5 * (rec.l + rec.b)))
                + 0.75 * rec.s[CAST(j AS INTEGER) + 1]
           ELSE rec.s[CAST(j AS INTEGER) + 1] END)
  FROM rec JOIN idx ON idx.event_type = rec.event_type
   AND idx.i = rec.i + 1
),
fin AS (
  SELECT r.event_type, r.l, r.b, r.ed, r.s
  FROM rec r JOIN (SELECT event_type, max(i) AS mi FROM rec
                   GROUP BY event_type) t
    ON r.event_type = t.event_type AND r.i = t.mi
)
SELECT f.event_type, CAST(x.total AS BIGINT) AS n_days,
       f.l AS level_last, f.b AS trend_last,
       f.s[CAST(f.ed % 7 AS INTEGER) + 1] AS season_last,
       f.l + 7 * f.b + f.s[CAST(f.ed % 7 AS INTEGER) + 1] AS forecast_7d
FROM fin f JOIN (SELECT DISTINCT event_type, total FROM idx) x
  ON x.event_type = f.event_type
ORDER BY f.event_type
""")
def e_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT–WINTERS additive seasonal smoothing (Winters 1960) over
    per-type daily volumes — e_holt_forecast's three-state sibling
    and the simplest forecaster that sees WEEKLY shape: level l,
    trend b, and a 7-slot day-of-week seasonal vector s.
    α=0.5, γ=0.25, δ=0.25; seeded l₁ = x₁, b₁ = 0, s = 0⃗ (the
    zero-seasonal seed — the seasonal vector is LEARNED by the δ
    updates rather than pre-estimated, documented variant); the
    seasonal index is the TRUE day-of-week (epoch_day % 7), so
    calendar gaps in a series do not rotate the seasonality. The
    7-day-ahead forecast lands on the same weekday, so
    forecast = l_T + 7·b_T + s[dow_T].

    Cross-engine float parity (the e_holt_forecast discipline): every
    per-step expression — including the textual re-expansion of the
    new level inside the trend and seasonal updates — has the SAME
    shape and order in the Spark fold and the oracle's recursive CTE,
    so the doubles are bit-identical (+,−,×,÷ only).

    Scale shape: sequential in time, parallel across series — each
    series folds a struct(l, b, s[7]) accumulator inside its own task
    over the calendar-bounded day array; the fact table reduces to
    (type, day) first."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    series = (daily
              .select("event_type",
                      F.datediff(F.col("d"), F.lit("1970-01-01"))
                      .cast("long").alias("ed"),
                      "n")
              .groupBy("event_type")
              .agg(F.sort_array(F.collect_list(F.struct("ed", "n")))
                   .alias("xs")))
    x1 = F.element_at("xs", 1)
    seed = F.struct(
        x1["n"].cast("double").alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), 7).alias("s"))

    def step(acc, x):
        dow = x["ed"] % 7
        s_cur = F.element_at(acc["s"], (dow + 1).cast("int"))
        new_l = (F.lit(0.5) * (x["n"] - s_cur)
                 + F.lit(0.5) * (acc["l"] + acc["b"]))
        new_b = F.lit(0.25) * (new_l - acc["l"]) + F.lit(0.75) * acc["b"]
        new_s = F.transform(
            acc["s"],
            lambda v, j: F.when(j.cast("long") == dow,
                                F.lit(0.25) * (x["n"] - new_l)
                                + F.lit(0.75) * v).otherwise(v))
        return F.struct(new_l.alias("l"), new_b.alias("b"),
                        new_s.alias("s"))

    ns = F.col("xs")
    fin = F.aggregate(
        F.slice(ns, 2, F.greatest(F.size(ns) - 1, F.lit(0))),
        seed, step)
    last_ed = F.element_at("xs", F.size("xs"))["ed"]
    season = F.element_at(fin["s"], (last_ed % 7 + 1).cast("int"))
    return (series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        fin["l"].alias("level_last"),
        fin["b"].alias("trend_last"),
        season.alias("season_last"),
        (fin["l"] + F.lit(7) * fin["b"] + season).alias("forecast_7d"))
        .orderBy("event_type"))


def _markov_steady_sql(iters: int = 4) -> str:
    """Unrolled exact-integer power iteration over the behavioral
    transition matrix (micro-unit masses, per-term floor division —
    the x_pagerank_trade discipline on a stochastic matrix)."""
    cte = ["""seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)""", """tc AS (
  SELECT event_type AS ft, next_type AS tt, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY event_type, next_type
)""", """rt AS (SELECT ft, CAST(sum(n) AS BIGINT) AS tot FROM tc GROUP BY ft)""",
           """states AS (SELECT DISTINCT ft AS s FROM tc
  UNION SELECT DISTINCT tt FROM tc)""",
           """p0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS mass
  FROM states)"""]
    for i in range(iters):
        cte.append(f"""c{i + 1} AS (
  SELECT t.tt AS node, CAST(sum(p.mass * t.n // r.tot) AS BIGINT) AS mass
  FROM p{i} p JOIN tc t ON t.ft = p.node JOIN rt r ON r.ft = p.node
  GROUP BY t.tt)""")
        cte.append(f"""p{i + 1} AS (
  SELECT s.s AS node, CAST(coalesce(c.mass, 0) AS BIGINT) AS mass
  FROM states s LEFT JOIN c{i + 1} c ON c.node = s.s)""")
    return ("WITH " + ",\n".join(cte)
            + f"\nSELECT node AS state, mass AS mass_micro FROM p{iters}")


_MARKOV_ITER = 4


@register("e_markov_steady_state", _markov_steady_sql(_MARKOV_ITER))
def e_markov_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE mass of the behavioral Markov chain — 4 unrolled
    power-iteration rounds of e_event_transitions' row-stochastic
    matrix from a uniform start: where user attention CONVERGES if
    the observed dynamics keep running (the long-run mix the
    transition matrix only describes one step of). Masses are exact
    BIGINT micro-units with per-term floor division
    (Σ mass·n DIV tot — Python // ≡ Spark div ≡ DuckDB // on
    non-negatives), so the ranking can't drift cross-engine; states
    with no outgoing edges shed their mass (sub-stochastic, exactly
    as x_pagerank_trade drops dangling mass — documented, identical
    in both engines).

    Scale shape: deriving the matrix is the one data-scale stage —
    the same (user)-partitioned lead() window every sessionizer pays,
    then a |types|²-bounded count. That bounded matrix lands
    driver-side (the nation-trade-graph/IVF-centroid pattern) and the
    4 rounds fold as plain int arithmetic."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    tc = (seq.filter(F.col("next_type").isNotNull())
          .groupBy(F.col("event_type").alias("ft"),
                   F.col("next_type").alias("tt"))
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    # |event_types|² transition cells land driver-side; the ceiling
    # (1000² cells — far above any real event taxonomy, far below
    # driver-memory hazard) is ENFORCED, not assumed (verdict r13 #4):
    # a 10⁵-type pathological stream raises instead of materializing a
    # quadratic collect (bounded_collect caps the transfer itself).
    rows = bounded_collect(tc, 1_000_000,
                           "e_markov_steady_state transition matrix")
    tot: dict[str, int] = {}
    for r in rows:
        tot[r.ft] = tot.get(r.ft, 0) + r.n
    states = sorted({r.ft for r in rows} | {r.tt for r in rows})
    mass = {s: 1_000_000 for s in states}
    for _ in range(_MARKOV_ITER):
        nxt = {s: 0 for s in states}
        for r in rows:
            nxt[r.tt] += mass[r.ft] * r.n // tot[r.ft]
        mass = nxt
    return local_df(spark, sorted(mass.items()),
                                 "state string, mass_micro long")


@register("e_acf_daily", """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
lags AS (SELECT unnest(range(1, 8)) AS k),
pairs AS (
  SELECT a.event_type, CAST(k.k AS BIGINT) AS k,
         a.n AS x, b.n AS y
  FROM daily a
  CROSS JOIN lags k
  JOIN daily b ON b.event_type = a.event_type
   AND b.d = a.d + CAST(k.k AS INTEGER)
),
s AS (
  SELECT event_type, k, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2,
         CAST(sum(y * y) AS BIGINT) AS sy2
  FROM pairs GROUP BY event_type, k
)
SELECT event_type, k, m,
       CAST(m * sxy - sx * sy AS BIGINT) AS acf_num,
       (m * sxy - sx * sy) * 1e0
         / (sqrt((m * sx2 - sx * sx) * 1e0) * sqrt((m * sy2 - sy * sy) * 1e0))
         AS acf
FROM s
WHERE m * sx2 - sx * sx > 0 AND m * sy2 - sy * sy > 0
""")
def e_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION of per-type daily volume at lags 1–7
    — the diagnostic read before choosing a forecaster: a spike at
    lag 7 says weekly seasonality (use e_holt_winters), geometric
    decay says AR(1)-ish momentum (e_ewma_daily suffices), nothing
    says white noise. Pearson form over the lag-paired days: every
    sum is an exact BIGINT; the coefficient is one identical-shape
    mul/div/sqrt chain (IEEE correctly rounded, both engines).
    Degenerate lags (constant series on either side) are excluded.
    e_lagged_xcorr is the CROSS-series sibling; this is the
    self-correlation that completes the family.

    Scale shape: the e_rolling_p90 time-axis scatter — the
    calendar-bounded daily rollup joins its own k-shifted copy by
    EQUI-key (type, day), 7 lags via one in-plan literal expansion;
    the sums are a (type, lag)-keyed map-side-combinable rollup.
    Nothing past the first reduction scales with event volume."""
    ev = _events(spark, sf_dir)
    # r15: the r14 eager cut (daily rollup checkpointed, then lag
    # expansion self-JOINED back) still paid a checkpoint job and a
    # join per action. The lag pairing is a fixed integer time shift,
    # so a RANGE window over the day index replaces the join outright
    # (guide §2.4): x_k(d) = n(d-k) via range(-k, -k), non-null iff
    # day d-k exists for the type — exactly the join's match
    # condition, so the (x, y) pair multiset per (type, k) is
    # identical. One events scan, no checkpoint, no join; the window
    # runs over the calendar-bounded rollup (|types| x |days| rows).
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).cast("long").alias("n"))
             .withColumn("di", F.datediff(
                 F.col("d"), F.lit("1970-01-01").cast("date"))))
    shifted = daily.select(
        "event_type", F.col("n").alias("y"),
        F.array(*[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.sum("n").over(
                    Window.partitionBy("event_type").orderBy("di")
                    .rangeBetween(-k, -k)).alias("x"))
            for k in range(1, 8)]).alias("lags"))
    pairs = (shifted
             .select("event_type", "y", F.explode("lags").alias("l"))
             .select("event_type", F.col("l.k").alias("k"),
                     F.col("l.x").alias("x"), "y")
             .filter(F.col("x").isNotNull()))
    s = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")
    deny = F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy")
    return (s.filter((denx > 0) & (deny > 0))
            .select("event_type", "k", "m",
                    num.cast("long").alias("acf_num"),
                    (num * F.lit(1.0)
                     / (F.sqrt(denx * F.lit(1.0))
                        * F.sqrt(deny * F.lit(1.0)))).alias("acf")))


@register("e_activity_streaks", """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed
  FROM events
),
isl AS (
  SELECT user_id, ed,
         ed - row_number() OVER (PARTITION BY user_id ORDER BY ed)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
         CAST(min(ed) AS BIGINT) AS start_ed
  FROM isl GROUP BY user_id, island
),
best AS (
  SELECT user_id,
         max(len * 100000 - start_ed) AS pk,
         CAST(count(*) AS BIGINT) AS n_streaks,
         CAST(sum(len) AS BIGINT) AS active_days
  FROM streaks GROUP BY user_id
)
SELECT user_id,
       CAST((pk + 99999) // 100000 AS BIGINT) AS longest_streak,
       CAST((((pk + 99999) // 100000) * 100000 - pk) AS BIGINT)
         AS streak_start_ed,
       n_streaks, active_days
FROM best
""")
def e_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DAILY-ACTIVITY STREAKS — the gaps-and-islands operator
    (the classic ``ed − row_number()`` island key: consecutive days
    share it, any gap starts a new island) behind every "7-day
    streak" retention feature. Per user: the LONGEST streak with its
    start day, total islands, total active days. The argmax streak is
    the packed-max discipline (len·10⁵ − start_ed: length dominates,
    ties go to the EARLIEST start; start_ed < 10⁵ ≈ 270 years of
    epoch days, headroom asserted by construction), so no
    order-dependent tie crosses engines.

    Scale shape: one distinct to (user, day) — the same reduction the
    retention triangle pays — then one user-partitioned window and
    two map-side-combinable aggregates; nothing scales past the
    (user, day) frame."""
    ev = _events(spark, sf_dir)
    days = (ev.select("user_id",
                      F.datediff(F.col("ts").cast("date"),
                                 F.lit("1970-01-01")).cast("long")
                      .alias("ed"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("ed")
    isl = days.withColumn("island",
                          F.col("ed") - F.row_number().over(w))
    streaks = (isl.groupBy("user_id", "island")
               .agg(F.count(F.lit(1)).cast("long").alias("len"),
                    F.min("ed").cast("long").alias("start_ed")))
    best = (streaks.groupBy("user_id")
            .agg(F.max(F.col("len") * 100000 - F.col("start_ed"))
                 .alias("pk"),
                 F.count(F.lit(1)).cast("long").alias("n_streaks"),
                 F.sum("len").cast("long").alias("active_days")))
    longest = F.expr("(pk + 99999) DIV 100000")
    return best.select(
        "user_id",
        longest.cast("long").alias("longest_streak"),
        (longest * 100000 - F.col("pk")).cast("long")
        .alias("streak_start_ed"),
        "n_streaks", "active_days")


@register("e_dn_retention", """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed
  FROM events
),
first AS (SELECT user_id, CAST(min(ed) AS BIGINT) AS d0
          FROM ud GROUP BY user_id),
flags AS (
  SELECT f.user_id,
         max(CASE WHEN u.ed = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN u.ed = f.d0 + 7 THEN 1 ELSE 0 END) AS r7,
         max(CASE WHEN u.ed = f.d0 + 30 THEN 1 ELSE 0 END) AS r30
  FROM first f JOIN ud u ON u.user_id = f.user_id
  GROUP BY f.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(r1) AS BIGINT) AS d1_retained,
       CAST(sum(r7) AS BIGINT) AS d7_retained,
       CAST(sum(r30) AS BIGINT) AS d30_retained,
       CAST(1000000 * sum(r1) // count(*) AS BIGINT) AS d1_ppm,
       CAST(1000000 * sum(r7) // count(*) AS BIGINT) AS d7_ppm,
       CAST(1000000 * sum(r30) // count(*) AS BIGINT) AS d30_ppm
FROM flags
""")
def e_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIC Dn RETENTION — the D1/D7/D30 numbers every growth
    dashboard leads with: of all users, what fraction was active
    EXACTLY N days after their first day (strict day-N definition,
    not rolling). One row, exact integer counts and floor-ppm rates.
    The weekly cohort triangle (e_cohort_retention) shows the decay
    surface; this is its headline cut.

    Scale shape: the (user, day) distinct every retention query pays,
    a per-user min, one user-keyed join back to the day frame with a
    3-flag conditional max, then a 1-row fold. No window, no
    calendar expansion."""
    ev = _events(spark, sf_dir)
    ud = (ev.select("user_id",
                    F.datediff(F.col("ts").cast("date"),
                               F.lit("1970-01-01")).cast("long")
                    .alias("ed"))
          .distinct())
    # single-scan form: the per-user first day comes from a window
    # over the (user, day) frame itself (the e_kaplan_meier trick) —
    # a groupBy + join-back would evaluate the distinct subtree (and
    # the events scan under it) twice
    wu = Window.partitionBy("user_id")
    flags = (ud.withColumn("d0", F.min("ed").over(wu))
             .groupBy("user_id")
             .agg(*[F.max(F.when(F.col("ed") == F.col("d0") + n, 1)
                          .otherwise(0)).alias(f"r{n}")
                    for n in (1, 7, 30)]))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("r1").cast("long").alias("d1_retained"),
        F.sum("r7").cast("long").alias("d7_retained"),
        F.sum("r30").cast("long").alias("d30_retained"),
        F.expr("1000000 * sum(r1) DIV count(*)").cast("long")
        .alias("d1_ppm"),
        F.expr("1000000 * sum(r7) DIV count(*)").cast("long")
        .alias("d7_ppm"),
        F.expr("1000000 * sum(r30) DIV count(*)").cast("long")
        .alias("d30_ppm"))
