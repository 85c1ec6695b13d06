"""Structured Streaming operators (SURVEY §2.9 — additive).

The reference has **no** streaming execution (Presto 0.248 is
batch-only; the only stream-adjacent artifact is an unconfigured Kafka
connector — SURVEY §2.9). These operators are the additive capability
the events fixture invites: tumbling-window aggregation with watermark,
and session windows — the standard Structured Streaming shapes that
scale to unbounded input (state store per window key, late data dropped
past the watermark).

Each streaming op has a batch twin with identical semantics on bounded
input; the batch twin is what the differential oracle checks, and the
streaming form is exercised in tests via availableNow over the same
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_on_ray_spark.sources import read_parquet


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (parquet source, schema from a
    batch read — the standard pattern for replaying files as a stream)."""
    from presto_on_ray_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf + UTC TZ
    path = f"{sf_dir}/events.parquet"
    raw_schema = read_parquet(spark, path).schema
    # layout probe through Hadoop's FS so URI/remote paths (file:/,
    # hdfs://, s3a://) classify correctly — os.path.isdir would fall
    # through to the glob branch for those and silently stream 0 rows
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getFileStatus(jpath).isDirectory():
        # dataset directory (Spark-written part files): stream it as-is
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # single-file fixture: file streams take a directory, so glob
        # down to the one fixture file
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # Mirror load_table's dtype branch: the fixture's ts physical type has
    # shipped as both TIMESTAMP(NANOS) (bigint under nanosAsLong) and
    # TIMESTAMP(MICROS)/NTZ across testdata generations.
    ts_type = dict(stream.dtypes).get("ts", "")
    if ts_type == "bigint":
        return stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_type != "timestamp":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_window_counts(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming tumbling-window counts with watermark-based late-data
    handling. At scale: state is one row per (window, event_type);
    watermark bounds state size for unbounded input."""
    ev = _events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def tumbling_window_counts_batch(spark: SparkSession, sf_dir: str, window: str = "1 hour") -> DataFrame:
    """Batch twin of tumbling_window_counts — same window(), same agg,
    over the bounded table. This is the oracle-checked form."""
    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based) — batch form using
    session_window, the operator Presto has no equivalent for."""
    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


# Suite registration: the batch twins are oracle-checkable; the
# streaming forms get exercised in tests/test_streaming.py.
from presto_on_ray_spark.suite import query  # noqa: E402


@query(
    "streaming_tumbling_window_batch",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_window_batch(spark, sf_dir):
    """Tumbling-window aggregation (batch twin of the Structured
    Streaming operator; identical semantics on bounded input)."""
    return tumbling_window_counts_batch(spark, sf_dir)


@query("streaming_session_windows")
def streaming_session_windows(spark, sf_dir):
    """Gap-based session windows per user (session_window) — no SQL
    oracle (DuckDB has no session windows); invariants asserted in
    tests/test_streaming.py (sessions disjoint per user, counts sum to
    total events)."""
    return sessionize_events(spark, sf_dir)


def run_stream_to_memory(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow → memory sink,
    return the materialized result (test/demo harness). Use
    output_mode="append" for non-aggregating streams (dedup, joins) —
    complete mode only works over streaming aggregations."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


def streaming_dedup(spark: SparkSession, sf_dir: str, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: dropDuplicates on a content key under a
    watermark — the state-bounded form of the batch dedup family
    (operators/dedup.py). State holds one entry per key seen within the
    watermark horizon; late duplicates beyond it are not caught, which
    is the standard correctness/state tradeoff at unbounded scale."""
    ev = _events_stream(spark, sf_dir)
    return ev.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_type"])


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, delay: str = "1 hour"
) -> DataFrame:
    """Streaming dedup with BOUNDED state age: dropDuplicatesWithinWatermark
    dedupes events whose (user_id, event_type) repeats within the
    watermark delay, then EXPIRES the key's state — unlike plain
    dropDuplicates, whose per-key state lives for the stream's lifetime.
    This is the form a 100 TB ingest actually runs: state is
    O(keys active within the delay window), not O(all keys ever). The
    tradeoff is windowed semantics — a duplicate arriving after the
    delay is treated as new (by design; same contract as Spark's API).
    Exercised via availableNow in tests/test_streaming.py; the
    first-per-key batch relation remains the oracle-checked twin
    (streaming_dedup_batch — within one bounded replay no key outlives
    the horizon, so the semantics coincide on the fixture)."""
    ev = _events_stream(spark, sf_dir)
    return ev.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def streaming_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded twin: first event per (user_id, event_type)."""
    from pyspark.sql import Window

    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "streaming_dedup_batch",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id
    FROM (
      SELECT user_id, event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def streaming_dedup_batch_query(spark, sf_dir):
    """Batch twin of the streaming dropDuplicates dedup: first event per
    (user_id, event_type). Oracle truncates ts to microseconds to match
    Spark's parquet-nanos handling before ordering."""
    return streaming_dedup_batch(spark, sf_dir).select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


def stream_to_parquet_foreachbatch(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: per-microbatch idempotent parquet writes,
    partitioned by batch id. foreachBatch is the streaming escape hatch
    for sinks Structured Streaming lacks natively (JDBC, MERGE targets);
    idempotence comes from overwriting the batch's own partition, so a
    replayed batch after failure rewrites the same files."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    ev = _events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's
    clicks within the preceding hour. Both sides watermarked; the
    time-range predicate bounds the join state (Spark retains only
    rows inside the watermark+range horizon) — the unbounded-input
    form of an interval join."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts", "amount")


def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded twin of stream_stream_join (plain interval join)."""
    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts", "amount")


@query(
    "stream_interval_join_batch",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS p_user, CAST(p.value AS DOUBLE) AS amount
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
)
def stream_interval_join_batch(spark, sf_dir):
    """Interval join (purchases to same-user clicks in the preceding
    hour) — the batch twin of stream_stream_join; oracle compares on
    microsecond-truncated timestamps to match Spark's nanos handling."""
    return stream_stream_join_batch(spark, sf_dir).select(
        "purchase_id", "click_id", "p_user", F.col("amount").cast("double").alias("amount")
    )


def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, with its same-user
    clicks from the preceding hour or NULL click columns if none arrive
    before the watermark closes the window. Outer stream-stream joins
    require BOTH watermarks and the time-range condition (Spark can
    only emit the null row once the state store knows no match can
    still arrive) — state stays bounded by the watermark+range horizon
    exactly as in the inner form."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts", "amount")


@query(
    "stream_interval_left_join_batch",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS p_user, CAST(p.value AS DOUBLE) AS amount
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
)
def stream_interval_left_join_batch(spark, sf_dir):
    """Batch twin of stream_stream_left_join: purchases keep a NULL
    click when no same-user click lands in the preceding hour."""
    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "purchase_id", "click_id", "p_user",
        F.col("amount").cast("double").alias("amount"),
    )


def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join: purchases x same-user clicks in
    the preceding hour, null-padded on BOTH sides once the watermark
    passes each row's horizon — the same bounded-state contract as the
    left-outer form, applied symmetrically."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select("purchase_id", "click_id", "p_user", "c_user", "p_ts", "c_ts", "amount")


@query(
    "stream_interval_full_join_batch",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS p_user, c.user_id AS c_user,
           CAST(p.value AS DOUBLE) AS amount
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
)
def stream_interval_full_join_batch(spark, sf_dir):
    """Batch twin of stream_stream_full_join: unmatched purchases AND
    unmatched clicks both surface null-padded."""
    from presto_on_ray_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "purchase_id", "click_id", "p_user", "c_user",
        F.col("amount").cast("double").alias("amount"),
    )
