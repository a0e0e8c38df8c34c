"""Conformance queries for the as-of join, sessionization, and nested
collect/explode roundtrip. DuckDB's native ASOF JOIN is the oracle for
the engine's union+window implementation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.asof import asof_join, sessionize
from etl_pipeline_candy_store_spark.operators.ledger import local_frame
from etl_pipeline_candy_store_spark.plans.catalog import load, register


@register(
    "q33_asof_join",
    oracle="""
SELECT e.event_id, e.user_id,
       p.event_id AS asof_event_id,
       p.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
    doc="As-of join: each error event picks up the user's most recent "
    "purchase at-or-before it. Spark side: union+window carry-forward "
    "(one shuffle, linear); oracle: DuckDB native ASOF JOIN.",
)
def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = asof_join(
        errors,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["event_id", "value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        F.col("asof_value"),
    )


@register(
    "q34_sessionize",
    oracle="""
WITH marked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS session_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT event_id, user_id,
       CAST(SUM(session_start) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
         AS session_id
FROM marked
""",
    doc="Sessionization: 30-minute-gap sessions per user via lag + "
    "conditional cumulative sum (batch analog of the streaming session "
    "window).",
)
def q34_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, key_cols=["user_id"], ts_col="ts", gap="30 minutes").select(
        "event_id", "user_id", "session_id"
    )


@register(
    "q36_nested_roundtrip",
    oracle="""
SELECT l_orderkey,
       CAST(len(list(l_partkey)) AS INTEGER) AS n_parts,
       array_to_string(list_sort(list(l_partkey)), ',') AS part_list
FROM lineitem
GROUP BY l_orderkey
""",
    doc="Nested-data roundtrip (the transactions items-array shape, "
    "SURVEY §1.1): collect_list per order, deterministic sort, string "
    "render.",
)
def q36_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.size(F.collect_list("l_partkey")).alias("n_parts"),
        F.array_join(F.array_sort(F.collect_list("l_partkey")), ",").alias("part_list"),
    )


@register(
    "q35_range_join",
    oracle="""
WITH bins(bin_id, lo, hi) AS (
  VALUES (0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0), (3, 150.0, 1e9)
)
SELECT b.bin_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(15,2))) AS DOUBLE) AS value_sum
FROM events e JOIN bins b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.bin_id
""",
    doc="Range (interval) join: events binned into value ranges via a "
    "non-equi join against a broadcast interval dimension — plans as a "
    "broadcast nested loop, which is the right physical choice for a "
    "tiny interval table at any fact size.",
)
def q35_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bins = local_frame(
        spark,
        [(0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0), (3, 150.0, 1e9)],
        "bin_id int, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bins),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(15,2)")).cast("double").alias("value_sum"),
        )
    )


@register(
    "q151_conversion_paths",
    oracle="""
WITH marked AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS session_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, SUM(session_start) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
),
ctx AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER wv AS last_view,
         MAX(CASE WHEN event_type = 'error' THEN ts END) OVER wv AS last_error
  FROM sess
  WINDOW wv AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN last_view IS NOT NULL
                     AND (last_error IS NULL OR last_error < last_view)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM ctx WHERE event_type = 'purchase'
GROUP BY user_id
""",
    doc="Event-sequence pattern matching (MATCH_RECOGNIZE-lite): per "
    "purchase, was there a preceding 'view' in the SAME 30-min session "
    "with no 'error' between them — the clean view→purchase conversion "
    "path, per user. Sequence logic runs as session-partitioned "
    "running-max windows over the event timeline (last view / last "
    "error strictly before each event), NOT string/regex matching over "
    "collected sequences — no per-session array materialization, no "
    "regex-engine dialect risk, and every window is bounded by one "
    "user's session. Composes the q34 sessionizer (same gap rule, "
    "single copy of the session semantics).",
)
def q151_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    s = sessionize(ev, key_cols=["user_id"], ts_col="ts", gap="30 minutes")
    wv = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ctx = s.select(
        "user_id",
        "event_type",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(wv).alias(
            "last_view"
        ),
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).over(wv).alias(
            "last_error"
        ),
    )
    clean = F.col("last_view").isNotNull() & (
        F.col("last_error").isNull() | (F.col("last_error") < F.col("last_view"))
    )
    return (
        ctx.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.when(clean, 1).otherwise(0)).cast("long").alias("n_clean"),
        )
    )
