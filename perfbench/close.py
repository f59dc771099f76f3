"""``monthly_close``: the CLI's ``report`` plus ``compliance`` work over one
transactions CSV, composed from the package's public functions, plus the
streaming nexus monitor over the same transactions.

One pass = scan (with the reject count) → tax → refund → nexus → alerts →
reports and their JSON / CSV / detail exports → the monitor drained over the
month's parquet files.  Every pass starts from the inputs: the session cache
is cleared and the monitor gets a fresh checkpoint, so a later pass cannot
reuse an earlier pass's work.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from tax_compliance_engine_spark import reports
from tax_compliance_engine_spark.operators import alerts as alerts_op
from tax_compliance_engine_spark.operators import nexus, refund, tax
from tax_compliance_engine_spark.sources.transactions import scan_transactions_csv

from gen import AS_OF, GENERATED_DATE
import stream
from tracing import Tracer, force, group_counts

REGISTERED_STATES = ["CA", "TX", "NY", "OH", "WA"]
PERIOD = "benchmark close"


@dataclass
class PassResult:
    rejects: int
    transactions: int
    tax_report: dict
    refund_report: dict
    nexus_report: dict
    alerts: list[tuple]
    exported: dict[str, str]  # export name → returned string
    out_dir: Path
    stream_snapshot: list[tuple]
    stream_progress: list[dict]
    stream_run_id: str

    def digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.exported):
            h.update(name.encode())
            h.update(self.exported[name].encode())
        h.update(repr(self.alerts).encode())
        h.update(repr(self.stream_snapshot).encode())
        for part in sorted((self.out_dir / "transaction_details.csv.d").glob("part-*")):
            h.update(part.read_bytes())
        return h.hexdigest()

    def bytes_written(self) -> int:
        """Bytes of the exports (the monitor checkpoint excluded)."""
        return sum(
            p.stat().st_size for p in self.out_dir.rglob("*")
            if p.is_file() and "monitor_checkpoint" not in p.parts
        )

    def rows_collected(self) -> int:
        r = self.refund_report
        return (
            1 + len(self.tax_report["state_breakdown"])
            + 1 + len(r["state_breakdown"]) + len(r["reason_breakdown"])
            + len(r["overpayment_details"]) + len(r["warnings"]) + len(r["refund_claims"])
            + self.nexus_report["summary"]["total_states_analyzed"]
        )


def close_pass(spark, dims, csv_path: Path, parquet_dir: Path, out_dir: Path,
               t: Tracer) -> PassResult:
    """One full close pass; ``t`` records a span around every public call.
    ``out_dir`` receives the exports and the monitor's checkpoint."""
    if out_dir.exists():
        shutil.rmtree(out_dir)
    scan = t.call("sources.transactions", scan_transactions_csv, spark, str(csv_path))
    with t.span("sources.transactions"):
        n_rejects = scan.rejects.count()
        if n_rejects:
            scan.rejects.limit(20).collect()
        txns = scan.transactions.cache()
        n_txns = txns.count()

    results = t.call("operators.tax", tax.calculate_tax, txns, dims).cache()
    totals = t.call("operators.tax", tax.batch_totals, results)
    by_state = t.call("operators.tax", tax.state_summary, results)
    tax_report = t.call(
        "reports", reports.tax_summary_report, totals, by_state,
        period_label=PERIOD, generated_date=GENERATED_DATE,
    )

    records = t.call("operators.refund", refund.analyze_overpayments, txns, dims, AS_OF).cache()
    summary, state_bd, reason_bd, warnings = t.call(
        "operators.refund", refund.refund_summary, records, total_transactions_reviewed=n_txns
    )
    claims = t.call("operators.refund", refund.refund_claims, records)
    refund_report = t.call(
        "reports", reports.refund_report, summary, state_bd, reason_bd, records,
        warnings, claims, generated_date=GENERATED_DATE,
    )

    activity = t.call("operators.nexus", nexus.state_activity, txns)
    status = t.call("operators.nexus", nexus.check_nexus, activity, dims).cache()
    alert_df = t.call(
        "operators.alerts", alerts_op.generate_alerts, spark, dims, status,
        registered_states=REGISTERED_STATES, as_of=AS_OF,
    )
    with t.span("operators.alerts"):
        alert_rows = [(a.severity, a.state_code, a.message) for a in alert_df.collect()]
    nexus_report = t.call("reports", reports.nexus_report, status, generated_date=GENERATED_DATE)

    exported = {
        "tax_summary.json": t.call("reports", reports.to_json, tax_report, "tax_summary.json", out_dir),
        "refund.json": t.call("reports", reports.to_json, refund_report, "refund.json", out_dir),
        "nexus.json": t.call("reports", reports.to_json, nexus_report, "nexus.json", out_dir),
        "state_breakdown.csv": t.call(
            "reports", reports.to_csv, tax_report, "state_breakdown.csv",
            section="state_breakdown", output_dir=out_dir,
        ),
        # above the driver-row cap this writes a CSV directory and returns
        # its path, which is the same on every pass
        "transaction_details.csv": t.call(
            "reports", reports.export_transaction_details, results,
            "transaction_details.csv", out_dir,
        ),
    }
    spark.catalog.clearCache()
    snapshot, progress, run_id = stream.drain(
        spark, dims, parquet_dir, out_dir / "monitor_checkpoint", t
    )
    return PassResult(
        rejects=n_rejects, transactions=n_txns, tax_report=tax_report,
        refund_report=refund_report, nexus_report=nexus_report,
        alerts=alert_rows, exported=exported, out_dir=out_dir,
        stream_snapshot=snapshot, stream_progress=progress, stream_run_id=run_id,
    )


def scan_jobs(spark, csv_path: Path) -> int:
    """Spark jobs the source layer runs in one pass (reject count and
    sample, valid-row count)."""
    sc = spark.sparkContext
    sc.setJobGroup("bench-scan", "sources.transactions")
    try:
        scan = scan_transactions_csv(spark, str(csv_path))
        if scan.rejects.count():
            scan.rejects.limit(20).collect()
        scan.transactions.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return group_counts(sc, "bench-scan").jobs


def reports_self_time(spark, dims, csv_path: Path, out_dir: Path) -> float:
    """Time spent in ``reports`` with every input DataFrame already
    materialized: collects, dict assembly, JSON / CSV and the detail
    export's projection and write."""
    scan = scan_transactions_csv(spark, str(csv_path))
    txns = scan.transactions.cache()
    n_txns = txns.count()
    results = tax.calculate_tax(txns, dims).cache()
    records = refund.analyze_overpayments(txns, dims, AS_OF).cache()
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=n_txns
    )
    inputs = {  # every DataFrame the reports layer reads
        "totals": tax.batch_totals(results), "by_state": tax.state_summary(results),
        "summary": summary, "state_bd": state_bd, "reason_bd": reason_bd,
        "records": records, "warnings": warnings, "claims": refund.refund_claims(records),
        "status": nexus.check_nexus(nexus.state_activity(txns), dims),
    }
    d = {k: df.cache() for k, df in inputs.items()}
    for df in (results, *d.values()):
        df.count()
    if out_dir.exists():
        shutil.rmtree(out_dir)
    t0 = time.perf_counter()
    tax_report = reports.tax_summary_report(
        d["totals"], d["by_state"], period_label=PERIOD, generated_date=GENERATED_DATE
    )
    refund_report = reports.refund_report(
        d["summary"], d["state_bd"], d["reason_bd"], d["records"], d["warnings"],
        d["claims"], generated_date=GENERATED_DATE,
    )
    nexus_report = reports.nexus_report(d["status"], generated_date=GENERATED_DATE)
    for name, rep in (("tax_summary.json", tax_report), ("refund.json", refund_report),
                      ("nexus.json", nexus_report)):
        reports.to_json(rep, name, out_dir)
    reports.to_csv(tax_report, "state_breakdown.csv", section="state_breakdown", output_dir=out_dir)
    reports.export_transaction_details(results, "transaction_details.csv", out_dir)
    elapsed = time.perf_counter() - t0
    spark.catalog.clearCache()
    return elapsed


def prefix_self_times(spark, dims, csv_path: Path) -> dict[str, float]:
    """Self time of each lazy layer by prefix differencing.

    Layer k's output is forced through the ``noop`` sink from a cold cache,
    and the time to force its input (layer k-1) is subtracted."""

    def timed(df) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        force(df)
        return time.perf_counter() - t0

    txns = scan_transactions_csv(spark, str(csv_path)).transactions
    results = tax.calculate_tax(txns, dims)
    records = refund.analyze_overpayments(txns, dims, AS_OF)
    status = nexus.check_nexus(nexus.state_activity(txns), dims)
    alert_df = alerts_op.generate_alerts(
        spark, dims, status, registered_states=REGISTERED_STATES, as_of=AS_OF
    )
    t_scan = timed(txns)
    t_tax = timed(results)
    t_refund = timed(records)
    t_nexus = timed(status)
    t_alerts = timed(alert_df)
    spark.catalog.clearCache()
    return {
        "sources.transactions": t_scan,
        "operators.tax": max(t_tax - t_scan, 0.0),
        "operators.refund": max(t_refund - t_tax, 0.0),
        "operators.nexus": max(t_nexus - t_scan, 0.0),
        "operators.alerts": max(t_alerts - t_nexus, 0.0),
    }
