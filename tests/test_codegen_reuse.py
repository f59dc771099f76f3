"""A close pass reuses its compiled code: once a pass has run, running it
again in the same JVM compiles no new whole-stage-codegen class.

Spark counts every Janino compile in ``CodegenMetrics``; a class served from
the generated-code cache is not compiled again.  The count rises again when
the cache is too small for the pass's working set (the LRU evicts each class
before its next use), or when a plan's generated source differs on every
call: a whole-stage-codegen ``limit`` names its counter with a fresh id, so
a ``limit(n).count()`` size probe compiles new classes every time.
"""

from __future__ import annotations

import csv
import datetime as dt
import random

import pytest

from tax_compliance_engine_spark import reports
from tax_compliance_engine_spark.operators import alerts, nexus, refund, tax
from tax_compliance_engine_spark.sources.transactions import scan_transactions_csv

AS_OF = dt.date(2024, 6, 30)
REGISTERED = ["CA", "TX", "NY"]
STATES = ["CA", "TX", "NY", "WA", "FL", "IL", "OR", "CO", "ZZ"]
CITIES = ["Los Angeles", "Houston", "New York", "Seattle", "Chicago", "Denver", ""]
CATEGORIES = ["general", "groceries", "clothing", "prescription_drugs", "Food", ""]
DETAIL_CAP = 50  # well under the fixture's rows: the distributed sink


def _compiles(spark) -> int:
    source = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return source.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    """600 seeded transactions over 2021-2024, with a few malformed rows."""
    rng = random.Random(5)
    path = tmp_path_factory.mktemp("codegen") / "transactions.csv"
    with path.open("w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(
            ["transaction_id", "transaction_date", "amount", "state", "city",
             "item_category", "tax_paid"]
        )
        for i in range(600):
            amount = round(rng.uniform(5, 40_000), 2)
            w.writerow([
                f"T{i:05d}",
                (dt.date(2021, 1, 1) + dt.timedelta(days=rng.randrange(1300))).isoformat(),
                f"{amount:.2f}",
                rng.choice(STATES),
                rng.choice(CITIES),
                rng.choice(CATEGORIES),
                f"{amount * rng.uniform(0, 0.12):.2f}",
            ])
        w.writerow(["T-bad-date", "2024-13-45", "10.00", "CA", "", "general", "0"])
        w.writerow(["T-bad-amount", "2024-01-02", "ten", "TX", "", "general", "0"])
    return path


def _close(spark, dims, csv_path, out_dir) -> tuple:
    """One close composition: scan, tax, refund, nexus, alerts, the three
    reports and both detail-export sinks."""
    scan = scan_transactions_csv(spark, str(csv_path))
    n_rejects = scan.rejects.count()
    txns = scan.transactions.cache()
    n_txns = txns.count()
    results = tax.calculate_tax(txns, dims).cache()
    tax_report = reports.tax_summary_report(
        tax.batch_totals(results), tax.state_summary(results)
    )
    records = refund.analyze_overpayments(txns, dims, AS_OF).cache()
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=n_txns
    )
    refund_report = reports.refund_report(
        summary, state_bd, reason_bd, records, warnings, refund.refund_claims(records)
    )
    status = nexus.check_nexus(nexus.state_activity(txns), dims).cache()
    alert_rows = alerts.generate_alerts(
        spark, dims, status, registered_states=REGISTERED, as_of=AS_OF
    ).collect()
    nexus_report = reports.nexus_report(status)
    distributed = reports.export_transaction_details(
        results, "details.csv", out_dir, max_driver_rows=DETAIL_CAP
    )
    collected = reports.export_transaction_details(results, "small.csv", out_dir)
    spark.catalog.clearCache()
    return (
        n_rejects, tax_report, refund_report, nexus_report, alert_rows,
        distributed.removeprefix(str(out_dir)), collected,
    )


def _parts(directory) -> list[bytes]:
    return [p.read_bytes() for p in sorted(directory.glob("part-*"))]


def test_second_close_pass_compiles_nothing(spark, dims, csv_path, tmp_path):
    first = _close(spark, dims, csv_path, tmp_path / "first")
    before = _compiles(spark)
    second = _close(spark, dims, csv_path, tmp_path / "second")
    assert _compiles(spark) - before == 0
    assert second == first
    assert first[0] == 2
    assert first[5].endswith("details.csv.d")
    assert _parts(tmp_path / "second" / "details.csv.d") == _parts(
        tmp_path / "first" / "details.csv.d"
    )


def test_distributed_detail_export_compiles_once(spark, dims, csv_path, tmp_path):
    txns = scan_transactions_csv(spark, str(csv_path)).transactions
    results = tax.calculate_tax(txns, dims).cache()
    try:
        first = reports.export_transaction_details(
            results, "details.csv", tmp_path / "a", max_driver_rows=DETAIL_CAP
        )
        before = _compiles(spark)
        second = reports.export_transaction_details(
            results, "details.csv", tmp_path / "b", max_driver_rows=DETAIL_CAP
        )
        assert _compiles(spark) - before == 0
    finally:
        results.unpersist()
    assert first == str(tmp_path / "a" / "details.csv.d")
    assert second == str(tmp_path / "b" / "details.csv.d")
    parts = _parts(tmp_path / "a" / "details.csv.d")
    assert parts and parts == _parts(tmp_path / "b" / "details.csv.d")
    rows = sum(p.count(b"\n") - 1 for p in parts)  # one header per part file
    assert rows == 600


def test_detail_export_sink_splits_at_the_cap(spark, dims, csv_path, tmp_path):
    """Exactly ``max_driver_rows`` rows stay on the driver; one more row
    takes the distributed sink."""
    txns = scan_transactions_csv(spark, str(csv_path)).transactions
    results = tax.calculate_tax(txns, dims).cache()
    try:
        at_cap = reports.export_transaction_details(
            results, "at.csv", tmp_path, max_driver_rows=600
        )
        over_cap = reports.export_transaction_details(
            results, "over.csv", tmp_path, max_driver_rows=599
        )
    finally:
        results.unpersist()
    assert len(at_cap.splitlines()) == 601  # header + every row
    assert over_cap == str(tmp_path / "over.csv.d")
