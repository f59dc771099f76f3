"""E2E tests: CSV source, report assembly/sinks, and CLI, cross-checked
against the reference library run on the same sample CSV (SURVEY §5 item 3).

Inputs: ``SAMPLE`` is the reference's 57-row sample CSV
(``REFERENCE_SAMPLE``) wherever it exists, else the committed 5-row
``tests/data/transactions_sample.csv`` (FIXTURES.md §1).

The parity tests (per-row CSV parity, tax-summary and refund reports, the
driver-side details export) run the reference library and are skipped
where ``REFERENCE`` is absent. The sink, distributed-export, partition-pruning,
report-file, refund-command and ``python -m`` tests need only a transactions
CSV and run on either input.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import sys
from decimal import Decimal
from pathlib import Path

import pytest

from tax_compliance_engine_spark import reports
from tax_compliance_engine_spark.operators import refund, tax
from tax_compliance_engine_spark.sources.transactions import (
    scan_transactions_csv,
)

REPO = Path(__file__).resolve().parents[1]
REFERENCE = Path("/root/reference")
REFERENCE_SAMPLE = REFERENCE / "data" / "sample_transactions.csv"
SAMPLE = str(
    REFERENCE_SAMPLE
    if REFERENCE_SAMPLE.exists()
    else REPO / "tests" / "data" / "transactions_sample.csv"
)
AS_OF = dt.date(2026, 8, 13)

needs_reference = pytest.mark.skipif(
    not REFERENCE.exists(),
    reason="/root/reference is absent: the reference library is needed",
)


@pytest.fixture(scope="module")
def reference():
    sys.path.insert(0, "/root/reference")
    import tax_engine.calculator as rc
    import tax_engine.refund_analyzer as rr

    yield rc, rr
    sys.path.remove("/root/reference")


@pytest.fixture(scope="module")
def ref_batch(reference):
    """Reference engine's batch result on the sample CSV."""
    rc, _ = reference
    import csv

    calc = rc.TaxCalculator()
    txns, tax_paids = [], []
    with open(SAMPLE) as f:
        for row in csv.DictReader(f):
            txns.append(
                rc.Transaction(
                    transaction_id=row["transaction_id"],
                    transaction_date=dt.date.fromisoformat(
                        row["transaction_date"]
                    ),
                    amount=Decimal(row["amount"]),
                    state=row["state"].strip().upper(),
                    city=row.get("city") or None,
                    item_category=row.get("item_category") or None,
                )
            )
            tax_paids.append(Decimal(row.get("tax_paid") or "0"))
    return calc.calculate_batch(txns), list(zip(txns, tax_paids))


@pytest.fixture(scope="module")
def spark_results(spark, dims):
    scan = scan_transactions_csv(spark, SAMPLE)
    assert scan.rejects.count() == 0
    return tax.calculate_tax(scan.transactions, dims).cache()


@needs_reference
def test_csv_source_parity_per_row(spark_results, ref_batch):
    batch, _ = ref_batch
    ours = {r.transaction_id: r for r in spark_results.collect()}
    assert len(ours) == len(batch.results)
    for ref in batch.results:
        mine = ours[ref.transaction_id]
        assert mine.tax_amount == ref.tax_amount, ref.transaction_id
        assert mine.state_tax == ref.state_tax, ref.transaction_id
        assert mine.local_tax == ref.local_tax, ref.transaction_id
        assert mine.taxable_amount == ref.taxable_amount, ref.transaction_id
        assert mine.is_exempt == ref.is_exempt, ref.transaction_id
        assert mine.exemption_reason == (ref.exemption_reason or ""), (
            ref.transaction_id
        )


def test_csv_source_rejects_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "transaction_id,transaction_date,amount,state,city,item_category,tax_paid\n"
        "ok1,2024-01-15,100.00,TX,,,\n"
        ",2024-01-15,100.00,TX,,,\n"  # missing id
        "bad2,not-a-date,100.00,TX,,,\n"
        "bad3,2024-01-15,abc,TX,,,\n"
        "bad4,2024-01-15,100.00,,,,\n"  # missing state
    )
    scan = scan_transactions_csv(spark, str(p))
    assert scan.transactions.count() == 1
    reasons = sorted(r.reject_reason for r in scan.rejects.collect())
    assert reasons == [
        "invalid amount",
        "invalid transaction_date",
        "missing state",
        "missing transaction_id",
    ]


@needs_reference
def test_tax_summary_report_matches_reference(
    spark_results, ref_batch, reference
):
    sys.path.insert(0, "/root/reference")
    from tax_engine.report_generator import ReportGenerator

    batch, _ = ref_batch
    ref_report = ReportGenerator(output_dir="/tmp/ref_reports").tax_summary_report(
        batch, period_label="2024-Q1"
    )
    ours = reports.tax_summary_report(
        tax.batch_totals(spark_results),
        tax.state_summary(spark_results),
        period_label="2024-Q1",
    )
    assert ours["summary"] == ref_report["summary"]
    assert ours["state_breakdown"] == ref_report["state_breakdown"]
    # text render of the whole report is byte-identical too
    ours["generated_date"] = ref_report["generated_date"]
    assert reports.format_text(ours) == ReportGenerator(
        output_dir="/tmp/ref_reports"
    ).format_text(ref_report)


@needs_reference
def test_refund_report_matches_reference(spark, dims, ref_batch, reference):
    _, rr = reference
    analyzer = rr.RefundAnalyzer()
    _, pairs = ref_batch
    ref_summary = analyzer.analyze_batch(pairs, as_of=AS_OF)
    ref_claims = analyzer.generate_refund_claims(ref_summary)

    sys.path.insert(0, "/root/reference")
    from tax_engine.report_generator import ReportGenerator

    ref_report = ReportGenerator(output_dir="/tmp/ref_reports").refund_report(
        ref_summary, ref_claims
    )

    scan = scan_transactions_csv(spark, SAMPLE)
    records = refund.analyze_overpayments(scan.transactions, dims, AS_OF).cache()
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=scan.transactions.count()
    )
    claims = refund.refund_claims(records)
    ours = reports.refund_report(
        summary, state_bd, reason_bd, records, warnings, claims
    )

    assert ours["summary"] == ref_report["summary"]
    assert ours["state_breakdown"] == ref_report["state_breakdown"]
    assert ours["reason_breakdown"] == ref_report["reason_breakdown"]
    ours_details = sorted(
        ours["overpayment_details"], key=lambda d: d["transaction_id"]
    )
    ref_details = sorted(
        ref_report["overpayment_details"], key=lambda d: d["transaction_id"]
    )
    assert ours_details == ref_details
    assert sorted(ours["warnings"]) == sorted(ref_report["warnings"])
    ours_claims = {c["state"]: c for c in ours["refund_claims"]}
    for rc_ in ref_report["refund_claims"]:
        mine = ours_claims[rc_["state"]]
        assert mine["period"] == rc_["period"]
        assert mine["amount_requested"] == rc_["amount_requested"]
        assert mine["transaction_count"] == rc_["transaction_count"]
        assert sorted(mine["reasons"]) == sorted(rc_["reasons"])
        assert mine["notes"] == rc_["notes"]


def test_json_and_csv_sinks(spark_results, tmp_path):
    report = reports.tax_summary_report(
        tax.batch_totals(spark_results),
        tax.state_summary(spark_results),
        generated_date=AS_OF,
    )
    json_str = reports.to_json(report, "t.json", tmp_path)
    loaded = json.loads(json_str)
    assert loaded["report_type"] == "tax_liability_summary"
    assert isinstance(loaded["summary"]["total_tax"], float)
    assert (tmp_path / "t.json").exists()

    csv_str = reports.to_csv(report, "t.csv", "state_breakdown", tmp_path)
    header = csv_str.splitlines()[0]
    assert header.split(",") == [
        "state",
        "transaction_count",
        "taxable_amount",
        "tax_collected",
        "exempt_amount",
        "effective_rate",
    ]
    assert len(csv_str.strip().splitlines()) == len(report["state_breakdown"]) + 1


@needs_reference
def test_transaction_details_export(spark_results, tmp_path, ref_batch, reference):
    sys.path.insert(0, "/root/reference")
    from tax_engine.report_generator import ReportGenerator

    batch, _ = ref_batch
    ref_csv = ReportGenerator(output_dir=str(tmp_path)).export_transaction_details(
        batch.results, "ref.csv"
    )
    ours_csv = reports.export_transaction_details(
        spark_results, "ours.csv", tmp_path
    )
    ref_rows = sorted(ref_csv.strip().splitlines())
    our_rows = sorted(ours_csv.strip().splitlines())
    assert our_rows == ref_rows


def test_transaction_details_export_distributed(
    spark_results, tmp_path, monkeypatch
):
    """Above the row cap, S9 export writes a distributed CSV directory and
    never collects to the driver (collect is poisoned to prove it)."""
    import pyspark.sql

    small_csv = reports.export_transaction_details(
        spark_results, "small.csv", tmp_path
    )
    driver_rows = sorted(small_csv.strip().splitlines())

    def _boom(self):
        raise AssertionError("distributed export path must not collect()")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _boom)
    out = reports.export_transaction_details(
        spark_results, "big.csv", tmp_path, max_driver_rows=1
    )
    monkeypatch.undo()
    assert out == str(tmp_path / "big.csv.d")
    parts = sorted((tmp_path / "big.csv.d").glob("part-*.csv"))
    assert parts
    dist_rows: list[str] = []
    header = None
    for p in parts:
        lines = p.read_text().strip().splitlines()
        if not lines:
            continue
        header = lines[0]
        dist_rows.extend(lines[1:])
    # same 10-column projection, same row set, per-file headers
    assert header is not None
    assert sorted(dist_rows + [header]) == driver_rows


def test_cli_calculate_single(capsys):
    from tax_compliance_engine_spark.cli import main

    main(["calculate", "--amount", "500", "--state", "TX", "--city", "Houston"])
    out = capsys.readouterr().out
    assert "Total Tax: $41.25" in out
    assert "Effective Rate: 8.25%" in out


def test_cli_rates(capsys):
    from tax_compliance_engine_spark.cli import main

    main(["rates", "--state", "TX"])
    out = capsys.readouterr().out
    assert "Texas (TX)" in out
    assert "Base rate: 6.25%" in out


def test_cli_report_file(capsys, tmp_path):
    from tax_compliance_engine_spark.cli import main

    main(
        [
            "report",
            "--file",
            SAMPLE,
            "--export-json",
            "r.json",
            "--output-dir",
            str(tmp_path),
        ]
    )
    out = capsys.readouterr().out
    assert "Tax Liability Summary" in out
    assert "Refund Analysis" in out
    assert (tmp_path / "r.json").exists()


def _table_rows(text: str) -> list[list[str]]:
    """Body cells of the one box table in ``text`` (header row dropped)."""
    rows = [
        [c.strip() for c in ln.strip("│").split("│")]
        for ln in text.splitlines()
        if ln.startswith("│")
    ]
    return rows[1:]


def test_cli_refund_file(spark, dims, capsys, tmp_path):
    """``refund`` exports the refund report the operators build, prints
    each claim of that report in its claims table, and ``refund --quick``
    lists the transactions of the quick scan."""
    from tax_compliance_engine_spark.cli import main

    as_of = dt.date.today()
    main(
        [
            "refund",
            "--file",
            SAMPLE,
            "--export-json",
            "r.json",
            "--output-dir",
            str(tmp_path),
        ]
    )
    out = capsys.readouterr().out

    txns = scan_transactions_csv(spark, SAMPLE).transactions
    records = refund.analyze_overpayments(txns, dims, as_of)
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=txns.count()
    )
    want = reports.refund_report(
        summary,
        state_bd,
        reason_bd,
        records,
        warnings,
        refund.refund_claims(records),
    )
    exported = (tmp_path / "r.json").read_text()
    assert exported == reports.to_json(want)
    claims = json.loads(exported)["refund_claims"]
    assert claims
    assert "Refund Claims to File" in out
    assert _table_rows(out) == [
        [
            c["state"],
            c["period"],
            f"${c['amount_requested']:,.2f}",
            str(c["transaction_count"]),
            "; ".join(c["reasons"][:2]),
        ]
        for c in claims
    ]

    main(["refund", "--file", SAMPLE, "--quick"])
    out = capsys.readouterr().out
    hits = refund.quick_scan(txns, dims, as_of, "0.50").collect()
    assert "Quick Scan: Overpayments Found" in out
    listed = {row[0] for row in _table_rows(out)}
    assert listed == {h.transaction_id[:12] for h in hits}
    assert f"Potential refunds found: {len(hits)} " in out
    if SAMPLE != str(REFERENCE_SAMPLE):
        # TX grocery is exempt, OR has no sales tax, and FL/Miami paid
        # 7.5% where 7% is due: $2.00 over
        assert listed == {"S003", "S004", "S005"}


def test_partitioned_sink_prunes(spark, dims, spark_results, tmp_path):
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.sources.transactions import (
        write_results_partitioned,
    )

    out = str(tmp_path / "results")
    write_results_partitioned(spark_results.drop("warnings"), out)
    back = spark.read.parquet(out)
    assert back.count() == spark_results.count()
    # partition pruning: a state filter reads only that directory
    tx_only = back.filter(F.col("state") == "TX")
    plan = tx_only._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(state#\d+ = TX\)", plan), plan
    assert tx_only.count() == spark_results.filter(F.col("state") == "TX").count()
    assert (tmp_path / "results" / "state=TX").exists()


def test_module_entry_point_smoke():
    """`python -m tax_compliance_engine_spark` is a real installable
    entry point (same main as the pyproject console script): the
    calculate subcommand runs end to end over ``SAMPLE`` in a subprocess
    and prints the known-good batch total."""
    import subprocess

    if SAMPLE == str(REFERENCE_SAMPLE):
        # cross-checked against the reference library: 57 rows, total tax
        # 4,140.38
        expected = ("4,140.38", "4140.38")
    else:
        # by hand from the seed rates, each component rounded HALF_UP:
        # TX Houston 1000 x (0.0625 + 0.02) = 62.50 + 20.00
        # CA Los Angeles 200 x (0.0725 + 0.025) = 14.50 + 5.00
        # TX grocery 0 (exempt), OR 0 (no sales tax)
        # FL Miami 400 x (0.06 + 0.01) = 24.00 + 4.00  -> total 130.00
        expected = ("Total Tax: $130.00",)
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "tax_compliance_engine_spark",
            "calculate",
            "--file",
            SAMPLE,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert any(e in proc.stdout for e in expected), proc.stdout[-2000:]
