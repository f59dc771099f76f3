"""The streaming nexus monitor step of a close pass.

The monitor query is built from ``streaming.nexus_monitor`` —
``stream_transactions`` → ``state_running_totals`` → ``threshold_status`` →
``crossing_alerts`` — into a complete-mode memory sink, and drains every
landed parquet file with ``availableNow``.  It exercises the nexus logic
through state-store writes and checkpoints rather than batch recompute, so a
change that speeds up batch nexus but slows the stream shows in the close
pass time.
"""

from __future__ import annotations

from pathlib import Path

from tax_compliance_engine_spark.schemas import TXN_SCHEMA
from tax_compliance_engine_spark.streaming import nexus_monitor as nm

from tracing import Tracer

LAYER = "streaming.nexus_monitor"
SINK = "bench_nexus_alerts"


def _alert_rows(df) -> list[tuple]:
    return sorted(
        (r.state, r.severity, r.revenue, r.txn_count, r.message) for r in df.collect()
    )


def drain(spark, dims, source: Path, checkpoint: Path, t: Tracer):
    """Run the monitor over every file in ``source`` from a fresh
    checkpoint.  Returns (alert snapshot, progress reports, query run id)."""
    stream = t.call(LAYER, nm.stream_transactions, spark, str(source))
    totals = t.call(LAYER, nm.state_running_totals, stream)
    alerts = t.call(LAYER, nm.crossing_alerts, t.call(LAYER, nm.threshold_status, totals, dims))
    with t.span(LAYER):
        query = (
            alerts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(SINK)
            .option("checkpointLocation", str(checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        snapshot = _alert_rows(spark.table(SINK))
    return snapshot, list(query.recentProgress), str(query.runId)


def batch_recompute(spark, dims, source: Path) -> list[tuple]:
    """The same nexus functions over the same files as one batch read."""
    totals = nm.state_running_totals(spark.read.schema(TXN_SCHEMA).parquet(str(source)))
    return _alert_rows(nm.crossing_alerts(nm.threshold_status(totals, dims)))
