"""Report assembly + sinks (SURVEY §2.1 S7-S10).

Re-expresses /root/reference/tax_engine/report_generator.py: the report
dict shapes, JSON/CSV export, and fixed-width text rendering.

Design split for scale (SURVEY §4.2): every *aggregate* section is a small
DataFrame (≤51 states, alert-sized) — computed distributed, then collected
and assembled driver-side into the reference's exact dict shapes.  The one
row-level export (S9 transaction details) stays a DataFrame and writes
through ``df.write.csv`` when a directory sink is wanted; the string form
collects (report-sized inputs only, like the reference).
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def _plain(v: Any) -> Any:
    """Normalize a collected Spark value for report dicts (Decimal kept for
    exactness; Row → dict; arrays → lists)."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _dicts(rows: list[Row]) -> list[dict[str, Any]]:
    return [{k: _plain(v) for k, v in r.asDict().items()} for r in rows]


def _rows(df: DataFrame) -> list[dict[str, Any]]:
    return _dicts(df.collect())


def _collect_all(*frames: DataFrame) -> list[list[Row]]:
    """``collect()`` a report's independent sections concurrently, one
    thread per frame, so their Spark jobs share the executors instead of
    queueing behind each other's driver round trips.  Each collect runs
    under ``inheritable_thread_target``, so it carries the caller's local
    properties (job group, description) and job tags into its jobs; each
    frame is wrapped on its own, so each thread gets its own copy of the
    properties."""
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(df.collect))
            for df in frames
        ]
        return [f.result() for f in futures]


def _jsonable(obj: Any) -> Any:
    """Decimal→float, date→ISO, recursively (report_generator.py:43-54)."""
    if isinstance(obj, dict):
        return {k: _jsonable(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_jsonable(i) for i in obj]
    if isinstance(obj, Decimal):
        return float(obj)
    if isinstance(obj, (dt.date, dt.datetime)):
        return obj.isoformat()
    return obj


def _today(generated_date: dt.date | None) -> str:
    return (generated_date or dt.date.today()).isoformat()


# ── report dict assembly ─────────────────────────────────────────────


def tax_summary_report(
    totals: DataFrame,
    state_summary: DataFrame,
    period_label: str = "",
    generated_date: dt.date | None = None,
) -> dict[str, Any]:
    """Tax liability summary (report_generator.py:73-130) from
    ``tax.batch_totals`` + ``tax.state_summary`` DataFrames."""
    (t,), state_rows = _collect_all(totals, state_summary.orderBy("state"))
    overall_rate = (
        float(t.total_tax / t.total_taxable) if t.total_taxable > 0 else 0.0
    )
    states = [
        {
            "state": r["state"],
            "transaction_count": r["transaction_count"],
            "taxable_amount": r["total_taxable"],
            "tax_collected": r["total_tax"],
            "exempt_amount": r["exempt_amount"],
            # recomputed from the exact Decimal sums: the reference does
            # float(Decimal/Decimal) (report_generator.py:103-105), which can
            # differ in the last ulp from double/double division
            "effective_rate": (
                float(r["total_tax"] / r["total_taxable"])
                if r["total_taxable"] > 0
                else 0.0
            ),
        }
        for r in _dicts(state_rows)
    ]
    return {
        "report_type": "tax_liability_summary",
        "period": period_label,
        "generated_date": _today(generated_date),
        "summary": {
            "total_transactions": t.transaction_count,
            "total_taxable": t.total_taxable,
            "total_tax": t.total_tax,
            "total_exempt": t.total_exempt,
            "exempt_transactions": t.exempt_count,
            "overall_effective_rate": overall_rate,
        },
        "state_breakdown": states,
        "errors": [],
    }


def nexus_report(
    status: DataFrame, generated_date: dt.date | None = None
) -> dict[str, Any]:
    """Nexus analysis report (report_generator.py:136-185)."""
    rows = _rows(status)
    nexus = [r for r in rows if r["has_nexus"]]
    approaching = [r for r in rows if r["approaching_threshold"]]
    below = [
        r for r in rows if not r["has_nexus"] and not r["approaching_threshold"]
    ]
    return {
        "report_type": "nexus_analysis",
        "generated_date": _today(generated_date),
        "summary": {
            "states_with_nexus": len(nexus),
            "states_approaching": len(approaching),
            "states_below_threshold": len(below),
            "total_states_analyzed": len(rows),
        },
        "nexus_established": [
            {
                "state": r["state_code"],
                "nexus_types": r["nexus_types"],
                "revenue": r["revenue_in_state"],
                "transactions": r["transactions_in_state"],
                "details": r["details"],
            }
            for r in nexus
        ],
        "approaching_threshold": [
            {
                "state": r["state_code"],
                "revenue_pct": r["revenue_pct_of_threshold"],
                "transaction_pct": r["transaction_pct_of_threshold"],
                "revenue": r["revenue_in_state"],
                "details": r["details"],
            }
            for r in approaching
        ],
        "below_threshold": [
            {
                "state": r["state_code"],
                "revenue_pct": r["revenue_pct_of_threshold"],
                "revenue": r["revenue_in_state"],
            }
            for r in below
        ],
    }


def filing_status_report(
    deadlines: DataFrame,
    alerts: DataFrame | None = None,
    generated_date: dt.date | None = None,
) -> dict[str, Any]:
    """Filing deadline/status report (report_generator.py:191-240)."""
    rows = _rows(deadlines)
    overdue = sorted(
        (r for r in rows if r["is_overdue"]),
        key=lambda r: (r["due_date"], r["state_code"]),
    )
    upcoming = sorted(
        (
            r
            for r in rows
            if not r["is_overdue"] and 0 <= r["days_until_due"] <= 30
        ),
        key=lambda r: (r["due_date"], r["state_code"]),
    )
    filed = [r for r in rows if r["status"] == "filed"]

    def _deadline_dict(r: dict[str, Any]) -> dict[str, Any]:
        return {
            "state": r["state_code"],
            "period": (
                f"{r['period_start'].isoformat()} to "
                f"{r['period_end'].isoformat()}"
            ),
            "due_date": r["due_date"].isoformat(),
            "status": r["status"],
            "days_until_due": r["days_until_due"],
            "estimated_liability": r["estimated_liability"],
        }

    report: dict[str, Any] = {
        "report_type": "filing_status",
        "generated_date": _today(generated_date),
        "summary": {
            "total_filings": len(rows),
            "overdue": len(overdue),
            "upcoming_30_days": len(upcoming),
            "filed": len(filed),
        },
        "overdue_filings": [_deadline_dict(r) for r in overdue],
        "upcoming_filings": [_deadline_dict(r) for r in upcoming],
    }
    if alerts is not None:
        alert_rows = _rows(alerts)
        if alert_rows:
            report["alerts"] = [
                {
                    "severity": a["severity"],
                    "state": a["state_code"],
                    "message": a["message"],
                    "action": a["action_required"],
                }
                for a in alert_rows
            ]
    return report


def refund_report(
    summary: DataFrame,
    state_breakdown: DataFrame,
    reason_breakdown: DataFrame,
    records: DataFrame,
    warnings: DataFrame,
    claims: DataFrame,
    generated_date: dt.date | None = None,
) -> dict[str, Any]:
    """Refund opportunity report (report_generator.py:245-310) from the
    ``refund.refund_summary`` / ``refund.refund_claims`` outputs."""
    (s,), states, reasons, details, warning_rows, claim_rows = _collect_all(
        summary,
        state_breakdown.orderBy(F.desc("amount"), "state"),
        reason_breakdown.orderBy(F.desc("amount"), "reason"),
        records,
        warnings,
        claims,
    )
    return {
        "report_type": "refund_analysis",
        "generated_date": _today(generated_date),
        "summary": {
            "transactions_reviewed": s["total_transactions_reviewed"],
            "overpayments_found": s["overpayment_count"],
            "total_overpayment": s["total_overpayment"],
            "estimated_recovery": s["estimated_recovery"],
            "recovery_rate_assumed": "85%",
        },
        "state_breakdown": {
            r["state"]: r["amount"] for r in _dicts(states)
        },
        "reason_breakdown": {
            r["reason"]: r["amount"] for r in _dicts(reasons)
        },
        "overpayment_details": [
            {
                "transaction_id": r["transaction_id"],
                "date": r["transaction_date"].isoformat(),
                "state": r["state"],
                "sale_amount": r["sale_amount"],
                "tax_paid": r["tax_paid"],
                "tax_owed": r["tax_owed"],
                "overpayment": r["overpayment"],
                "reason": r["reason"],
                "eligible": r["refund_eligible"],
            }
            for r in _dicts(details)
        ],
        "warnings": [r["warning"] for r in _dicts(warning_rows)],
        "refund_claims": [
            {
                "state": c["state_code"],
                "period": (
                    f"{c['claim_period_start'].isoformat()} to "
                    f"{c['claim_period_end'].isoformat()}"
                ),
                "amount_requested": c["total_refund_requested"],
                "transaction_count": c["transaction_count"],
                "reasons": c["supporting_reasons"],
                "notes": c["filing_notes"],
            }
            for c in _dicts(claim_rows)
        ],
    }


# ── sinks ────────────────────────────────────────────────────────────


def to_json(
    report: dict[str, Any],
    filename: str | None = None,
    output_dir: str | Path = "reports",
) -> str:
    """S7 (report_generator.py:316-329): report dict → JSON string/file."""
    json_str = json.dumps(_jsonable(report), indent=2)
    if filename:
        out = Path(output_dir)
        out.mkdir(parents=True, exist_ok=True)
        (out / filename).write_text(json_str, encoding="utf-8")
    return json_str


def to_csv(
    report: dict[str, Any],
    filename: str | None = None,
    section: str = "state_breakdown",
    output_dir: str | Path = "reports",
) -> str:
    """S8 (report_generator.py:331-370): one report section → CSV string."""
    data = report.get(section, [])
    if not data:
        return ""
    output = io.StringIO()
    if isinstance(data, list) and data and isinstance(data[0], dict):
        writer = csv.DictWriter(output, fieldnames=list(data[0].keys()))
        writer.writeheader()
        for row in data:
            writer.writerow(
                {
                    k: float(v) if isinstance(v, Decimal) else v
                    for k, v in row.items()
                }
            )
    elif isinstance(data, dict):
        writer = csv.writer(output)
        writer.writerow(["key", "value"])
        for k, v in data.items():
            writer.writerow([k, float(v) if isinstance(v, Decimal) else v])
    csv_str = output.getvalue()
    if filename:
        out = Path(output_dir)
        out.mkdir(parents=True, exist_ok=True)
        (out / filename).write_text(csv_str, encoding="utf-8")
    return csv_str


DETAIL_COLUMNS = [
    "transaction_id",
    "state",
    "city",
    "taxable_amount",
    "state_tax",
    "local_tax",
    "total_tax",
    "effective_rate",
    "is_exempt",
    "exemption_reason",
]


def transaction_details(results: DataFrame) -> DataFrame:
    """S9 (report_generator.py:372-413): fixed 10-column detail projection.

    Distributed — write with ``.write.csv`` at scale; ``effective_rate`` is
    pre-formatted as the reference's ``{rate:.4%}`` string."""
    return results.select(
        "transaction_id",
        "state",
        F.coalesce("city", F.lit("")).alias("city"),
        F.col("taxable_amount").cast("double").alias("taxable_amount"),
        F.col("state_tax").cast("double").alias("state_tax"),
        F.col("local_tax").cast("double").alias("local_tax"),
        F.col("tax_amount").cast("double").alias("total_tax"),
        F.format_string(
            "%.4f%%", F.col("effective_rate") * 100
        ).alias("effective_rate"),
        "is_exempt",
        "exemption_reason",
    )


# Above this many rows the detail export never touches the driver: it is
# written as a distributed CSV directory instead of a collected string.
DETAIL_EXPORT_DRIVER_ROW_CAP = 100_000


def export_transaction_details(
    results: DataFrame,
    filename: str = "transaction_details.csv",
    output_dir: str | Path = "reports",
    max_driver_rows: int = DETAIL_EXPORT_DRIVER_ROW_CAP,
) -> str:
    """S9 detail export with a size-gated sink choice.

    Report-sized results (≤ ``max_driver_rows``) are collected and
    rendered driver-side, byte-identical to the reference's CSV shape, and
    the CSV string is returned.  Larger results take the distributed path:
    ``df.write.csv`` with headers to ``<output_dir>/<filename>.d/`` (one
    part file per partition, scales with executors, zero driver
    materialization) and the returned string is that directory path.  The
    same 10-column projection (``transaction_details``) feeds both sinks.

    The size probe asks whether any row lies past the cap, over no
    columns: ``select().offset(cap).isEmpty()`` stops at the first such
    row — never a full count.  ``limit(cap+1).count()`` would answer the
    same, but its whole-stage-codegen limit names its counter with a
    JVM-wide fresh id, so its generated source never repeats and every
    call compiles new classes; this probe reuses its compiled code."""
    details = transaction_details(results)
    out = Path(output_dir)
    if not details.select().offset(max_driver_rows).isEmpty():
        target = out / f"{filename}.d"
        # Match the driver-side csv module's byte conventions so both
        # sinks emit identical rows: unquoted empty fields, and Python's
        # True/False casing for booleans (Spark's CSV writer lowercases).
        dist = details
        for f_ in details.schema.fields:
            if f_.dataType.simpleString() == "boolean":
                dist = dist.withColumn(
                    f_.name,
                    F.when(F.col(f_.name), "True").when(
                        ~F.col(f_.name), "False"
                    ),
                )
        dist.write.mode("overwrite").option("header", True).option(
            "emptyValue", ""
        ).csv(str(target))
        return str(target)
    output = io.StringIO()
    writer = csv.DictWriter(output, fieldnames=DETAIL_COLUMNS)
    writer.writeheader()
    for r in details.collect():
        writer.writerow(r.asDict())
    csv_str = output.getvalue()
    out.mkdir(parents=True, exist_ok=True)
    (out / filename).write_text(csv_str, encoding="utf-8")
    return csv_str


# ── text rendering (S10) ─────────────────────────────────────────────
# Output bytes are the contract: the byte-parity tests compare every
# rendered report against the reference renderer
# (report_generator.py:419-508), so the widths/templates below cannot
# drift.  Structure is ours: one small renderer per section, composed at
# the end, so each piece of the layout contract is auditable in isolation.

_BANNER_W = 60
_RULE_W = 40


def _dollars(v: Any, width: int = 0) -> str:
    """``$``-prefixed 2dp money with thousands separators; optional right
    alignment of the numeric part."""
    return f"${float(v):>{width},.2f}" if width else f"${float(v):,.2f}"


def _section(title: str, body: list[str]) -> list[str]:
    """Underlined section header + body + separating blank, or nothing when
    the section has no rows."""
    return [title, "-" * _RULE_W, *body, ""] if body else []


def _banner_lines(report: dict[str, Any]) -> list[str]:
    title = report.get("report_type", "report").replace("_", " ").title()
    out = [
        "=" * _BANNER_W,
        f"  {title}",
        f"  Generated: {report.get('generated_date', '')}",
    ]
    if report.get("period"):
        out.append(f"  Period: {report['period']}")
    out += ["=" * _BANNER_W, ""]
    return out


def _summary_body(summary: dict[str, Any]) -> list[str]:
    out = []
    for key, value in summary.items():
        label = key.replace("_", " ").title()
        if not isinstance(value, (float, Decimal)):
            shown: Any = value
        elif "rate" in key:
            shown = f"{float(value):.2%}"
        else:
            shown = _dollars(value)
        out.append(f"  {label}: {shown}")
    return out


def _state_body(state_data: Any) -> list[str]:
    if isinstance(state_data, dict):
        return [
            f"  {state}: {_dollars(amount, 12)}"
            for state, amount in state_data.items()
        ]
    if not isinstance(state_data, list):
        return []
    return [
        f"  {sd.get('state', '??')}: "
        f"{_dollars(sd.get('taxable_amount', 0), 12)} taxable | "
        f"{_dollars(sd.get('tax_collected', sd.get('tax', 0)), 10)} tax | "
        f"{sd.get('transaction_count', '')} txns"
        for sd in state_data
    ]


def _alert_body(alerts: list[dict[str, Any]]) -> list[str]:
    out = []
    for a in alerts:
        out.append(
            f"  [{a.get('severity', 'info').upper()}] "
            f"{a.get('state', '')}: {a.get('message', '')}"
        )
        out.append(f"          Action: {a.get('action', '')}")
    return out


def _overdue_body(overdue: list[dict[str, Any]]) -> list[str]:
    return [
        f"  {o['state']}: {o['period']} | Due: {o['due_date']} | "
        f"Est. liability: {_dollars(o.get('estimated_liability', 0))}"
        for o in overdue
    ]


def _reason_body(report: dict[str, Any]) -> list[str]:
    if report.get("report_type") != "refund_analysis":
        return []
    return [
        f"  {reason}: {_dollars(amount, 10)}"
        for reason, amount in report.get("reason_breakdown", {}).items()
    ]


def _warning_body(warnings: list[str]) -> list[str]:
    return [f"  * {w}" for w in warnings]


def format_text(report: dict[str, Any]) -> str:
    """Fixed-width console text — byte-parity with the reference renderer."""
    lines = _banner_lines(report)
    lines += _section("SUMMARY", _summary_body(report.get("summary", {})))
    lines += _section(
        "STATE BREAKDOWN", _state_body(report.get("state_breakdown", []))
    )
    lines += _section("ALERTS", _alert_body(report.get("alerts", [])))
    lines += _section(
        "OVERDUE FILINGS", _overdue_body(report.get("overdue_filings", []))
    )
    lines += _section("OVERPAYMENT REASONS", _reason_body(report))
    lines += _section("WARNINGS", _warning_body(report.get("warnings", [])))
    return "\n".join(lines)
