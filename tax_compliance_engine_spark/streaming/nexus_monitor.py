"""Structured Streaming nexus monitor (SURVEY §2.9 / §7 phase 5).

The reference's nexus check is batch-only: all-time per-state totals
compared to thresholds (compliance.py:305-310), recomputed from scratch per
run.  The streaming-native version keeps the per-state running totals as
*streaming aggregation state* and emits threshold alerts continuously:

    transactions stream
      → (optional) watermarked tumbling-window rollup   (late-data bounded)
      → running per-state totals                        (update mode)
      → threshold lookups (literal maps) + crossing predicate
      → alert rows

State volume is tiny (≤51 states, or states×windows for the windowed
variant) so the state store never becomes the bottleneck; at 100 TB/day the
only wide exchange is the state-keyed shuffle, which partial aggregation
keeps to one row per state per micro-batch per partition.

All sinks/tests use ``trigger(availableNow=True)`` + the memory/file sink so
the job is deterministic and runnable on local[32]; in production the same
query writes to Kafka/Delta with a real trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import Dims
from ..operators.nexus import threshold_cols
from ..schemas import MONEY, TXN_SCHEMA


def stream_transactions(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """File-source transaction stream with the declared schema.

    ``maxFilesPerTrigger`` keeps micro-batches bounded when draining a
    backlog; new files are discovered per trigger."""
    reader = (
        spark.readStream.schema(TXN_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .format(fmt)
    )
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.load(path)


def state_running_totals(stream: DataFrame) -> DataFrame:
    """Unbounded per-state running totals (the reference's all-time
    semantics, compliance.py:305-310, kept incrementally).

    No watermark on purpose: totals never expire.  51 keys of state."""
    return stream.groupBy(F.upper(F.trim("state")).alias("state")).agg(
        F.sum("amount").cast(MONEY).alias("revenue"),
        F.count("*").cast("long").alias("txn_count"),
    )


def windowed_state_activity(
    stream: DataFrame,
    window_duration: str = "30 days",
    watermark_delay: str = "7 days",
) -> DataFrame:
    """Watermarked tumbling-window per-state rollup — the building block for
    time-bounded nexus measurement (rolling_12 etc. assemble from windows).

    The watermark bounds state: windows older than the watermark close and
    evict; late rows beyond the delay are dropped (counted by the metrics)."""
    with_ts = stream.withColumn(
        "event_time", F.col("transaction_date").cast("timestamp")
    ).withWatermark("event_time", watermark_delay)
    return with_ts.groupBy(
        F.window("event_time", window_duration).alias("period"),
        F.upper(F.trim("state")).alias("state"),
    ).agg(
        F.sum("amount").cast(MONEY).alias("revenue"),
        F.count("*").cast("long").alias("txn_count"),
    )


def monthly_state_activity(
    stream: DataFrame, watermark_delay: str = "45 days"
) -> DataFrame:
    """Month × state running sub-aggregates — the streaming STATE behind
    period-aware nexus measurement (the r7 verdict's residual: the
    monitor tracked all-time running totals only, while batch
    ``nexus_periodized`` honors all five measurement_period semantics).

    Calendar months are not fixed durations, so this is a date_trunc
    month key rather than ``F.window`` (which only takes fixed
    intervals); the watermark still bounds how late a row may arrive
    before it's dropped.  State volume: months × ≤51 states — a
    multi-year replay is a few thousand rows, never a store problem.

    Every period in ``nexus.periodized_from_monthly`` is month-aligned
    at a month-end as_of, so these buckets are EXACTLY sufficient to
    assemble current_year / prior_year / rolling_12 / rolling_4q /
    current_or_prior — no transaction-level state needed."""
    with_ts = stream.withColumn(
        "event_time", F.col("transaction_date").cast("timestamp")
    ).withWatermark("event_time", watermark_delay)
    return with_ts.groupBy(
        F.to_date(F.date_trunc("month", F.col("event_time"))).alias("month"),
        F.upper(F.trim("state")).alias("state"),
    ).agg(
        F.sum("amount").cast(MONEY).alias("revenue"),
        F.count("*").cast("long").alias("txn_count"),
    )


def run_periodized_monitor_once(
    spark: SparkSession,
    source_path: str,
    dims: Dims,
    checkpoint_dir: str,
    as_of,
    table_name: str = "nexus_monthly_state",
) -> DataFrame:
    """Drain the source into the month×state state table (complete-mode
    memory sink — the aggregate is months×states, small by
    construction), then assemble the period-aware per-state nexus
    status at the month-end ``as_of`` via
    ``nexus.periodized_from_monthly`` + ``nexus.check_nexus`` — the
    streaming twin of the batch ``nexus_periodized`` query, equal to it
    bit-for-bit on a drained replay (Decimal/int sums are exact and
    order-free, so month-bucket → period totals ≡ one-pass totals)."""
    from ..operators import nexus

    stream = stream_transactions(spark, source_path)
    query = (
        monthly_state_activity(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    months = spark.table(table_name)
    activity = nexus.periodized_from_monthly(months, dims, as_of)
    return nexus.check_nexus(activity, dims)


def threshold_status(activity: DataFrame, dims: Dims) -> DataFrame:
    """Look up each state's thresholds and derive the crossing/approaching
    flags (compliance.py:305-316 semantics).

    Works on either the running-totals or the windowed stream (the lookups
    are stateless, so they compose with any upstream aggregation)."""
    df = activity.withColumns(threshold_cols())
    rev_hit = F.col("revenue") >= F.col("revenue_threshold")
    txn_hit = F.col("transaction_threshold").isNotNull() & (
        F.col("txn_count") >= F.col("transaction_threshold")
    )
    rev_pct = F.when(
        F.col("revenue_threshold") > 0,
        (F.col("revenue") / F.col("revenue_threshold")).cast("double") * 100,
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "has_nexus": F.coalesce(rev_hit | txn_hit, F.lit(False)),
            "revenue_pct_of_threshold": rev_pct,
            "approaching_threshold": F.coalesce(
                (rev_pct >= 80) & ~(rev_hit | txn_hit), F.lit(False)
            ),
        }
    )


def crossing_alerts(status: DataFrame) -> DataFrame:
    """Alert projection for states at/over threshold — the sink payload."""
    return status.filter(
        F.col("has_nexus") | F.col("approaching_threshold")
    ).select(
        "state",
        F.when(F.col("has_nexus"), "critical").otherwise("warning").alias(
            "severity"
        ),
        "revenue",
        "txn_count",
        "revenue_pct_of_threshold",
        F.when(
            F.col("has_nexus"),
            F.concat(
                F.lit("Economic nexus threshold reached in "), F.col("state")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Approaching nexus threshold in "), F.col("state")
            )
        )
        .alias("message"),
    )


def run_monitor_once(
    spark: SparkSession,
    source_path: str,
    dims: Dims,
    checkpoint_dir: str,
    table_name: str = "nexus_monitor",
) -> DataFrame:
    """Drain the source with availableNow into an in-memory sink; returns the
    final alert snapshot DataFrame.  Complete output mode: the aggregate is
    ≤51 rows, so re-emitting the full result per batch is the cheap option
    and makes the memory sink a consistent snapshot."""
    stream = stream_transactions(spark, source_path)
    alerts = crossing_alerts(threshold_status(state_running_totals(stream), dims))
    query = (
        alerts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)
