"""Structured Streaming nexus monitor (SURVEY §2.9 / §7 phase 5).

The reference's nexus check is batch-only: all-time per-state totals
compared to thresholds (compliance.py:305-310), recomputed from scratch per
run.  The monitor keeps the per-state running totals as streaming
aggregation state and applies the batch nexus decision to them on every
micro-batch:

    transactions stream
      → running per-state totals        (state store, ≤51 keys)
      → nexus.nexus_status              (batch check_nexus, unsorted)
      → alerts._nexus_alert_cols        (batch nexus alerts, none registered)
      → alert rows

Only the totals are its own; every threshold comparison and alert message
is the batch code's, so a drained monitor emits exactly the alerts that
``nexus_alerts(check_nexus(...), [])`` gives over the same rows.  Callers
drain it with ``trigger(availableNow=True)`` into a complete-mode sink; the
aggregate is at most one row per state, so re-emitting it whole per batch
is cheap and makes the sink a consistent snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import Dims
from ..operators.alerts import _nexus_alert_cols
from ..operators.nexus import nexus_status
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


def threshold_status(activity: DataFrame, dims: Dims) -> DataFrame:
    """The ``check_nexus`` status columns over (state, revenue, txn_count),
    with no physical presence and no sort."""
    return nexus_status(activity)


def crossing_alerts(status: DataFrame) -> DataFrame:
    """The batch nexus alerts with no registered states, as the sink
    payload: state, severity, revenue, txn_count, revenue_pct_of_threshold
    and message."""
    is_alert, cols = _nexus_alert_cols(())
    return status.filter(is_alert).select(
        F.col("state_code").alias("state"),
        cols["severity"],
        F.col("revenue_in_state").alias("revenue"),
        F.col("transactions_in_state").alias("txn_count"),
        "revenue_pct_of_threshold",
        cols["message"],
    )
