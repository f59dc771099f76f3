"""The close pass's seed dims are plan constants: plan shapes, seed-wide
lookups, memo keys of the memoized Column trees, and the report collects'
job groups."""

from __future__ import annotations

from datetime import date, timedelta
from decimal import Decimal

from tax_compliance_engine_spark import reports
from tax_compliance_engine_spark.dims import local_frame, seed_rows
from tax_compliance_engine_spark.operators import alerts, nexus, refund, tax
from tax_compliance_engine_spark.operators import calendar as cal
from tax_compliance_engine_spark.schemas import (
    DEFAULT_DUE_DAY,
    DEFAULT_SOL_YEARS,
    NO_NEXUS_STATES,
    TXN_SCHEMA,
)
from tax_compliance_engine_spark.streaming import nexus_monitor as nm

AS_OF = date(2026, 8, 13)
# A code in no dim: every lookup misses.
ABSENT = "ZZ"


def txns(spark, rows):
    """Normalized transactions from (id, date, amount, state, tax_paid)."""
    full = [
        (tid, d, Decimal(amt), st, None, None, Decimal(paid), None, None, None)
        for tid, d, amt, st, paid in rows
    ]
    return tax.normalize_transactions(local_frame(spark, full, TXN_SCHEMA))


def activity(spark, rows):
    return local_frame(
        spark,
        [(s, Decimal(r), int(t)) for s, r, t in rows],
        "state string, revenue decimal(18,2), txn_count long",
    )


def plans(df) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


def assert_no_broadcast_no_rdd(df, name):
    logical, physical = plans(df)
    assert "LogicalRDD" not in logical, (name, logical)
    assert "ExistingRDD" not in physical, (name, physical)
    assert "BroadcastExchange" not in physical, (name, physical)


def test_close_plans_join_no_dim(spark, dims):
    t = txns(
        spark,
        [
            ("p1", date(2026, 7, 1), "100.00", "CA", "20.00"),
            ("p2", date(2025, 3, 1), "500.00", "TX", "0.00"),
        ],
    )
    status = nexus.check_nexus(nexus.state_activity(t), dims)
    frames = {
        "analyze_overpayments": refund.analyze_overpayments(t, dims, AS_OF),
        "check_nexus": status,
        "periodized_activity": nexus.periodized_activity(t, dims, AS_OF),
        "filing_deadlines": cal.filing_deadlines(
            spark, dims, ["CA", "TX"], 2026, AS_OF
        ),
        "generate_alerts": alerts.generate_alerts(
            spark, dims, status, ["CA"], AS_OF
        ),
        "threshold_status": nm.threshold_status(nexus.state_activity(t), dims),
    }
    for name, df in frames.items():
        assert_no_broadcast_no_rdd(df, name)

    # the caller's filed_periods frame is still broadcast
    filed = local_frame(
        spark,
        [("CA", date(2026, 1, 1), date(2026, 12, 31))],
        "state_code string, period_start date, period_end date",
    )
    deadlines = cal.filing_deadlines(
        spark, dims, ["CA", "TX"], 2026, AS_OF, filed_periods=filed
    )
    assert "BroadcastExchange" in plans(deadlines)[1]
    assert {(r.state_code, r.status) for r in deadlines.collect()} == {
        ("CA", "filed"),
        ("TX", "pending"),
    }


def test_cli_calculate_frame_is_a_plan_constant(spark, monkeypatch, capsys):
    from tax_compliance_engine_spark.cli import main

    priced = []
    calculate_tax = tax.calculate_tax

    def spy(df, dims):
        out = calculate_tax(df, dims)
        priced.append(out)
        return out

    monkeypatch.setattr(tax, "calculate_tax", spy)
    main(["calculate", "--amount", "500", "--state", "TX", "--city", "Houston"])
    assert len(priced) == 1
    logical, physical = plans(priced[0])
    assert "LogicalRDD" not in logical and "ExistingRDD" not in physical
    assert "Total Tax: $41.25" in capsys.readouterr().out


def test_every_sol_years_row(spark, dims):
    years = {r["state_code"]: r["years"] for r in seed_rows("sol_years")}
    want = {**years, ABSENT: DEFAULT_SOL_YEARS}
    rows = []
    for st, n in want.items():
        cutoff = AS_OF.replace(year=AS_OF.year - n)
        rows += [
            (f"{st}-in", cutoff, "100.00", st, "50.00"),
            (f"{st}-out", cutoff - timedelta(days=1), "100.00", st, "50.00"),
        ]
    got = {
        r.transaction_id: r
        for r in refund.analyze_overpayments(
            txns(spark, rows), dims, AS_OF
        ).collect()
    }
    assert len(got) == len(rows)
    for st, n in want.items():
        inside, outside = got[f"{st}-in"], got[f"{st}-out"]
        assert inside.sol_years == outside.sol_years == n, st
        assert inside.refund_eligible and not outside.refund_eligible, st
        d = inside.transaction_date
        assert inside.statute_of_limitations_date == d.replace(year=d.year + n), st


def test_every_filing_due_day_row(spark, dims):
    due = {r["state_code"]: r["due_day"] for r in seed_rows("filing_due_day")}
    want = {**due, "AK": DEFAULT_DUE_DAY, ABSENT: DEFAULT_DUE_DAY}
    assert "AK" not in due
    rows = cal.filing_deadlines(
        spark, dims, sorted(want), 2025, AS_OF, frequency="monthly"
    ).collect()
    assert len(rows) == 12 * len(want)
    for r in rows:
        assert r.due_date.day == want[r.state_code], r
        assert r.due_date > r.period_end


# One transaction per date, amounts as decimal digits so every period's sum
# is distinct: relative to AS_OF 2026-08-13, current_year holds only 1,
# prior_year 10 + 100 + 10000, rolling_12 1 + 100, rolling_4q (from
# 2025-07-01) 1 + 100 + 10000, all-time everything.
PERIOD_TXNS = (
    (date(2026, 8, 1), "1.00"),
    (date(2025, 6, 15), "10.00"),
    (date(2025, 9, 1), "100.00"),
    (date(2023, 3, 1), "1000.00"),
    (date(2025, 7, 15), "10000.00"),
)
PERIOD_TOTALS = {  # (revenue, txn_count)
    "current_year": ("1.00", 1),
    "prior_year": ("10110.00", 3),
    "rolling_12": ("101.00", 2),
    "rolling_4q": ("10101.00", 3),
    "current_or_prior": ("10110.00", 3),
    None: ("11111.00", 5),  # no threshold row: all time
}


def test_every_nexus_thresholds_row(spark, dims):
    thresholds = {r["state_code"]: r for r in seed_rows("nexus_thresholds")}
    assert any(r["transaction_threshold"] is None for r in thresholds.values())
    codes = sorted(thresholds) + [ABSENT, *NO_NEXUS_STATES]

    status = {
        r.state_code: r
        for r in nexus.check_nexus(
            activity(spark, [(st, "1.00", 1) for st in codes]), dims
        ).collect()
    }
    assert set(status) == set(codes)
    for st, t in thresholds.items():
        s = status[st]
        assert s.revenue_threshold == t["revenue_threshold"], st
        assert s.transaction_threshold == t["transaction_threshold"], st
        assert s.details.endswith(f"Period: {t['measurement_period']}"), st
        assert ("Transactions:" in s.details) == (
            t["transaction_threshold"] is not None
        ), st
    assert status[ABSENT].details == "No economic nexus data available"
    assert status[ABSENT].revenue_threshold == 0
    for st in NO_NEXUS_STATES:
        assert status[st].details == f"{st} has no sales tax"

    t = txns(
        spark,
        [
            (f"{st}{i}", d, amt, st, "0.00")
            for st in codes
            for i, (d, amt) in enumerate(PERIOD_TXNS)
        ],
    )
    got = {
        r.state: (r.revenue, r.txn_count)
        for r in nexus.periodized_activity(t, dims, AS_OF).collect()
    }
    assert set(got) == set(codes)
    for st in codes:
        period = thresholds.get(st, {}).get("measurement_period")
        revenue, count = PERIOD_TOTALS[period]
        assert got[st] == (Decimal(revenue), count), (st, period)


def test_memoized_trees_follow_their_keys(spark, dims):
    act = activity(spark, [("CA", "1000.00", 3)])
    for _ in range(2):  # the second round reads the memoized trees
        (plain,) = nexus.check_nexus(act, dims).collect()
        (with_ca,) = nexus.check_nexus(act, dims, physical_states={"ca"}).collect()
        assert not plain.has_nexus and plain.nexus_types == []
        assert with_ca.has_nexus and with_ca.nexus_types == ["physical"]

    status = nexus.check_nexus(
        activity(spark, [("CA", "600000.00", 1), ("TX", "600000.00", 1)]), dims
    )
    for registered, unregistered in ((["CA"], "TX"), (["tx"], "CA"), (["CA"], "TX")):
        got = alerts.nexus_alerts(status, registered).collect()
        assert [(a.severity, a.state_code) for a in got] == [
            ("critical", unregistered)
        ], registered

    deadlines = cal.filing_deadlines(
        spark, dims, ["CA"], 2025, date(2026, 1, 1), frequency="quarterly"
    )
    for as_of in (date(2026, 1, 1), date(2026, 3, 1), date(2026, 1, 1)):
        got = alerts.overdue_alerts(deadlines, as_of).collect()
        assert len(got) == 3  # Q1-Q3; Q4's return falls due later in January
        for a in got:
            late = (as_of - a.deadline).days
            assert a.message.endswith(f"is {late} days past due"), (as_of, a)
            assert a.severity == ("critical" if late > 30 else "warning")


def test_report_collects_keep_the_job_group(spark, dims):
    t = txns(
        spark,
        [
            (f"g{i}", date(2025, 1 + i % 12, 1), "100.00", st, "30.00")
            for i, st in enumerate(["CA", "TX", "NY", "WA"] * 5)
        ],
    )
    results = tax.calculate_tax(t, dims)
    records = refund.analyze_overpayments(t, dims, AS_OF)
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=20
    )
    claims = refund.refund_claims(records)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("report-collects", "report collects")
    try:
        tax_report = reports.tax_summary_report(
            tax.batch_totals(results), tax.state_summary(results)
        )
        refund_report = reports.refund_report(
            summary, state_bd, reason_bd, records, warnings, claims
        )
    finally:
        sc._jsc.clearJobGroup()
    listener_bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("report-collects")) >= 8

    assert tax_report["summary"]["total_transactions"] == 20
    assert [s["state"] for s in tax_report["state_breakdown"]] == [
        "CA", "NY", "TX", "WA"
    ]
    assert refund_report["summary"]["overpayments_found"] == 20
    assert len(refund_report["overpayment_details"]) == 20
    assert list(refund_report["state_breakdown"]) == sorted(
        refund_report["state_breakdown"],
        key=lambda s: (-refund_report["state_breakdown"][s], s),
    )
    assert {c["state"] for c in refund_report["refund_claims"]} == {
        "CA", "TX", "NY", "WA"
    }
