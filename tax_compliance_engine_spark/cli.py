"""Command-line interface (SURVEY §3; reference cli.py:466-529).

Mirrors the reference's five subcommands — calculate, rates, compliance,
refund, report — over the Spark engine.  Tables and panels are rendered
with the native rich-style box renderer in :mod:`.console` (S11; the
reference uses the ``rich`` library, unavailable here — same visual
structure, same content, no ANSI markup).

Every subcommand builds one declarative Spark plan and collects only
report-sized aggregates to the driver (S10/S11 are driver-side renders by
design — every rendered table is ≤51 states or alert-sized).
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import reports
from .console import ROUNDED, SIMPLE, Table, panel
from .dims import Dims, load_dims, local_frame
from .operators import alerts as alerts_op
from .operators import nexus, refund, tax
from .rates_api import RateDatabase
from .schemas import TXN_SCHEMA
from .session import get_spark
from .sources.transactions import scan_transactions_csv


# Max per-transaction rows any CLI table renders (batch totals always come
# from a full aggregation, so the cap only bounds the driver-side collect).
RENDER_LIMIT = 50


def _spark() -> SparkSession:
    return get_spark(app_name="tax-compliance-engine-cli")


def _load(spark: SparkSession, path: str):
    scan = scan_transactions_csv(spark, path)
    n_rejects = scan.rejects.count()
    if n_rejects:
        for r in scan.rejects.limit(20).collect():
            print(f"Warning: skipping row ({r.reject_reason}): {r.transaction_id}")
        if n_rejects > 20:
            print(f"Warning: ... and {n_rejects - 20} more skipped rows")
    return scan.transactions


def cmd_calculate(args: argparse.Namespace) -> None:
    if not args.file and not (args.amount and args.state):
        print("Provide --amount and --state, or --file", file=sys.stderr)
        sys.exit(1)
    spark = _spark()
    dims = load_dims(spark)

    if args.file:
        txns = _load(spark, args.file)
        results = tax.calculate_tax(txns, dims).cache()
        table = Table(
            title="Tax Calculation Results", box=ROUNDED, show_lines=True
        )
        table.add_column("ID")
        table.add_column("State")
        table.add_column("City")
        table.add_column("Amount", justify="right")
        table.add_column("Tax", justify="right")
        table.add_column("Rate", justify="right")
        table.add_column("Exempt", justify="center")
        # Per-transaction render is CAPPED: an unbounded .collect() on the
        # one CLI path users feed big files to is a driver OOM at scale.
        # Totals come from the separate aggregate, never the collected rows.
        t = tax.batch_totals(results).collect()[0]
        for r in results.limit(RENDER_LIMIT).collect():
            table.add_row(
                r.transaction_id[:12],
                r.state,
                (r.city or "-")[:14],
                f"${float(r.taxable_amount):,.2f}",
                f"${float(r.tax_amount):,.2f}",
                f"{r.effective_rate:.2%}",
                "Y" if r.is_exempt else "",
            )
        print(table.render())
        if t.transaction_count > RENDER_LIMIT:
            print(
                f"(showing {RENDER_LIMIT} of {t.transaction_count} "
                "transactions; totals below cover all of them)"
            )
        print()
        print(
            panel(
                f"Total Taxable: ${float(t.total_taxable):,.2f}\n"
                f"Total Tax: ${float(t.total_tax):,.2f}\n"
                f"Exempt Transactions: {t.exempt_count}",
                title="Batch Summary",
            )
        )

        if args.export_json:
            report = reports.tax_summary_report(
                tax.batch_totals(results),
                tax.state_summary(results),
                period_label=args.period or "",
            )
            reports.to_json(
                report, args.export_json, args.output_dir or "reports"
            )
            print(f"JSON exported to {args.export_json}")
        return

    txn = dict(  # TXN_SCHEMA field order
        transaction_id="cli-calc",
        transaction_date=dt.date.today(),
        amount=Decimal(args.amount).quantize(Decimal("0.01")),
        state=args.state.upper(),
        city=args.city,
        item_category=args.category,
        tax_paid=Decimal("0.00"),
        exemption_certificate=None,
        customer_type="retail",
        pricing_model="exclusive",
    )
    df = tax.normalize_transactions(
        local_frame(spark, [tuple(txn.values())], TXN_SCHEMA)
    )
    r = tax.calculate_tax(df, dims).collect()[0]
    total_with_tax = r.taxable_amount + r.tax_amount
    print(
        panel(
            f"State: {r.state}\n"
            f"City: {r.city or 'N/A'}\n"
            f"Taxable Amount: ${float(r.taxable_amount):,.2f}\n"
            f"State Tax: ${float(r.state_tax):,.2f}\n"
            f"Local Tax: ${float(r.local_tax):,.2f}\n"
            f"Total Tax: ${float(r.tax_amount):,.2f}\n"
            f"Effective Rate: {r.effective_rate:.2%}\n"
            f"Total w/ Tax: ${float(total_with_tax):,.2f}\n"
            + "Exempt: "
            + (f"Yes - {r.exemption_reason}" if r.is_exempt else "No"),
            title="Tax Calculation",
        )
    )
    for w in r.warnings:
        print(f"Warning: {w}")


def cmd_rates(args: argparse.Namespace) -> None:
    # Driver-side over the seed rows: no Spark session, no job.
    db = RateDatabase()
    if args.state:
        code = args.state.upper()
        s = db.get_state(code)
        if s is None:
            print(f"Unknown state code: {code}", file=sys.stderr)
            sys.exit(1)
        body = (
            f"{s.state_name} ({s.state_code})\n"
            f"Base rate: {s.base_rate:.2%}\n"
            f"Avg combined rate: {s.avg_combined_rate:.2%}\n"
            f"Max local rate: {s.max_local_rate:.2%}"
        )
        if s.exemptions:
            body += "\nExemptions: " + ", ".join(s.exemptions)
        if s.notes:
            body += f"\nNotes: {s.notes}"
        print(panel(body, title=f"{s.state_name} Tax Profile"))
        if s.local_rates:
            table = Table(title="Local Rates", box=SIMPLE)
            table.add_column("Jurisdiction")
            table.add_column("Rate", justify="right")
            table.add_column("Combined", justify="right")
            for loc in sorted(s.local_rates, key=lambda r: r["jurisdiction"]):
                table.add_row(
                    loc["jurisdiction"],
                    f"{float(loc['rate']):.2%}",
                    f"{s.base_rate + float(loc['rate']):.2%}",
                )
            print(table.render())
        return
    table = Table(title="US Sales Tax Rates - All States", box=ROUNDED)
    table.add_column("State")
    table.add_column("Name")
    table.add_column("Base Rate", justify="right")
    table.add_column("Avg Combined", justify="right")
    table.add_column("Local", justify="center")
    for s in db.all_states():
        table.add_row(
            s.state_code,
            s.state_name,
            f"{s.base_rate:.2%}" if s.base_rate > 0 else "None",
            f"{s.avg_combined_rate:.2%}" if s.avg_combined_rate > 0 else "-",
            "Y" if s.has_local_taxes else "",
        )
    print(table.render())


def cmd_compliance(args: argparse.Namespace) -> None:
    if not args.file:
        print("Provide --file", file=sys.stderr)
        sys.exit(1)
    spark = _spark()
    dims = load_dims(spark)
    registered = (
        [s.strip().upper() for s in args.registered.split(",") if s.strip()]
        if args.registered
        else []
    )
    txns = _load(spark, args.file)
    activity = nexus.state_activity(txns)
    status = nexus.check_nexus(activity, dims).cache()

    table = Table(title="Economic Nexus Status", box=ROUNDED)
    table.add_column("State")
    table.add_column("Status")
    table.add_column("Revenue", justify="right")
    table.add_column("Txns", justify="right")
    table.add_column("% of Threshold", justify="right")
    for r in status.collect():
        bucket = (
            "NEXUS"
            if r.has_nexus
            else "APPROACHING" if r.approaching_threshold else "below"
        )
        table.add_row(
            r.state_code,
            bucket,
            f"${float(r.revenue_in_state):,.2f}",
            str(r.transactions_in_state),
            f"{r.revenue_pct_of_threshold:.1f}%",
        )
    print(table.render())

    alert_df = alerts_op.generate_alerts(
        spark, dims, status, registered_states=registered, as_of=dt.date.today()
    )
    alert_rows = alert_df.collect()
    if alert_rows:
        print()
        for a in alert_rows:
            print(
                panel(
                    f"{a.message}\n\nAction: {a.action_required}",
                    title=f"{a.severity.upper()} - {a.state_code}",
                )
            )

    if args.export_json:
        report = reports.nexus_report(status)
        reports.to_json(report, args.export_json, args.output_dir or "reports")
        print(f"JSON exported to {args.export_json}")


def _refund_report(
    txns: DataFrame, n_reviewed: int, dims: Dims, as_of: dt.date
) -> dict:
    """The refund report that ``refund`` and ``report`` print.  ``txns``
    must be cached and already filled; the records stay uncached, so the
    report's concurrent collects never race to fill the same block."""
    records = refund.analyze_overpayments(txns, dims, as_of)
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=n_reviewed
    )
    return reports.refund_report(
        summary,
        state_bd,
        reason_bd,
        records,
        warnings,
        refund.refund_claims(records),
    )


def cmd_refund(args: argparse.Namespace) -> None:
    spark = _spark()
    dims = load_dims(spark)
    txns = _load(spark, args.file)
    as_of = dt.date.today()

    if args.quick:
        minimum = args.minimum or "0.50"
        hits = refund.quick_scan(txns, dims, as_of, minimum).cache()
        # count + total from an aggregation; the collect is capped
        agg = hits.agg(
            F.count("*").alias("n"), F.sum("overpayment").alias("total")
        ).collect()[0]
        if not agg.n:
            print("No significant overpayments found.")
            return
        table = Table(title="Quick Scan: Overpayments Found", box=ROUNDED)
        table.add_column("Transaction")
        table.add_column("State")
        table.add_column("Overpayment", justify="right")
        table.add_column("Reason")
        rows = (
            hits.orderBy(F.desc("overpayment"), "transaction_id")
            .limit(RENDER_LIMIT)
            .collect()
        )
        for r in rows:
            table.add_row(
                r.transaction_id[:12],
                r.state,
                f"${float(r.overpayment):,.2f}",
                r.reason[:40],
            )
        print(table.render())
        if agg.n > RENDER_LIMIT:
            print(f"(showing top {RENDER_LIMIT} of {agg.n} overpayments)")
        print(f"\nPotential refunds found: {agg.n}  (${float(agg.total):,.2f})")
        return

    txns = txns.cache()
    # the count fills the txns cache before the concurrent report collects
    report = _refund_report(txns, txns.count(), dims, as_of)
    print(reports.format_text(report))
    if report["refund_claims"]:
        print()
        table = Table(title="Refund Claims to File", box=ROUNDED)
        table.add_column("State")
        table.add_column("Period")
        table.add_column("Amount", justify="right")
        table.add_column("Transactions", justify="right")
        table.add_column("Reasons")
        for c in report["refund_claims"]:
            table.add_row(
                c["state"],
                c["period"],
                f"${float(c['amount_requested']):,.2f}",
                str(c["transaction_count"]),
                "; ".join(c["reasons"][:2]),
            )
        print(table.render())
    if args.export_json:
        reports.to_json(report, args.export_json, args.output_dir or "reports")
        print(f"JSON exported to {args.export_json}")


def cmd_report(args: argparse.Namespace) -> None:
    spark = _spark()
    dims = load_dims(spark)
    txns = _load(spark, args.file).cache()
    # the count fills the txns cache before the concurrent report collects
    n_reviewed = txns.count()
    as_of = dt.date.today()

    results = tax.calculate_tax(txns, dims)
    tax_report = reports.tax_summary_report(
        tax.batch_totals(results),
        tax.state_summary(results),
        period_label=args.period or "",
    )
    print(reports.format_text(tax_report))

    print(reports.format_text(_refund_report(txns, n_reviewed, dims, as_of)))

    if args.export_json:
        reports.to_json(
            tax_report, args.export_json, args.output_dir or "reports"
        )
        print(f"JSON exported to {args.export_json}")
    if args.export_csv:
        reports.to_csv(
            tax_report,
            args.export_csv,
            section="state_breakdown",
            output_dir=args.output_dir or "reports",
        )
        print(f"CSV exported to {args.export_csv}")


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="tax-engine-spark",
        description=(
            "Sales Tax Compliance Engine (PySpark) - multi-state tax "
            "calculation, compliance monitoring, and refund analysis"
        ),
    )
    sub = parser.add_subparsers(dest="command", help="Available commands")

    calc_p = sub.add_parser("calculate", help="Calculate sales tax")
    calc_p.add_argument("--amount", help="Transaction amount")
    calc_p.add_argument("--state", help="Two-letter state code")
    calc_p.add_argument("--city", help="City name for local rate lookup")
    calc_p.add_argument("--category", help="Item category for exemption check")
    calc_p.add_argument("--file", "-f", help="CSV file with transactions")
    calc_p.add_argument("--period", help="Period label for reports")
    calc_p.add_argument("--export-json", help="Export results to JSON file")
    calc_p.add_argument("--output-dir", help="Output directory for exports")
    calc_p.set_defaults(func=cmd_calculate)

    rates_p = sub.add_parser("rates", help="View tax rate database")
    rates_p.add_argument("--state", "-s", help="State code to look up")
    rates_p.set_defaults(func=cmd_rates)

    comp_p = sub.add_parser(
        "compliance", help="Check nexus and filing compliance"
    )
    comp_p.add_argument("--file", "-f", help="CSV file with transactions")
    comp_p.add_argument(
        "--registered", help="Comma-separated list of registered state codes"
    )
    comp_p.add_argument("--export-json", help="Export report to JSON")
    comp_p.add_argument("--output-dir", help="Output directory")
    comp_p.set_defaults(func=cmd_compliance)

    refund_p = sub.add_parser("refund", help="Analyze refund opportunities")
    refund_p.add_argument(
        "--file", "-f", required=True, help="CSV file with transactions"
    )
    refund_p.add_argument(
        "--quick", "-q", action="store_true", help="Quick scan mode"
    )
    refund_p.add_argument(
        "--minimum", help="Minimum overpayment to report (default: $0.50)"
    )
    refund_p.add_argument("--export-json", help="Export report to JSON")
    refund_p.add_argument("--output-dir", help="Output directory")
    refund_p.set_defaults(func=cmd_refund)

    report_p = sub.add_parser("report", help="Generate full compliance report")
    report_p.add_argument(
        "--file", "-f", required=True, help="CSV file with transactions"
    )
    report_p.add_argument("--period", help="Report period label")
    report_p.add_argument("--export-json", help="Export to JSON filename")
    report_p.add_argument("--export-csv", help="Export to CSV filename")
    report_p.add_argument("--output-dir", help="Output directory")
    report_p.set_defaults(func=cmd_report)

    return parser


def main(argv: list[str] | None = None) -> None:
    parser = build_parser()
    args = parser.parse_args(argv)
    if not args.command:
        parser.print_help()
        sys.exit(0)
    args.func(args)


if __name__ == "__main__":
    main()
