"""The report dicts (``tax_summary_report``, ``refund_report``,
``nexus_report``, ``filing_status_report``) and the nexus alerts checked
against the DuckDB oracle, without the reference engine: every number in a
report equals the matching oracle entry over the same seeded orders table."""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from tax_compliance_engine_spark import reports
from tax_compliance_engine_spark.dims import local_frame
from tax_compliance_engine_spark.operators import alerts, nexus, refund, tax
from tax_compliance_engine_spark.operators import calendar as cal
from tax_compliance_engine_spark.plans import derived, queries


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A seeded ``orders.parquet`` in the shape of the testdata orders table,
    the one table the tax and refund plans derive transactions from: order
    dates span 1995-2001, so the refund SOL cutoffs split them."""
    rng = random.Random(20020615)
    n = 1500
    start = dt.datetime(1995, 1, 1)
    table = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([rng.randrange(150) for _ in range(n)], pa.int64()),
            "o_orderstatus": ["F"] * n,
            "o_totalprice": [round(rng.uniform(900, 450_000), 2) for _ in range(n)],
            "o_orderdate": pa.array(
                [start + dt.timedelta(days=rng.randrange(2556)) for _ in range(n)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": ["3-MEDIUM"] * n,
        }
    )
    out = tmp_path_factory.mktemp("orders")
    pq.write_table(table, out / "orders.parquet")
    return out


@pytest.fixture(scope="module")
def oracle(sf_dir):
    """Rows of one ``oracle_sql()`` entry as dicts."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir / 'orders.parquet'}'")
    sql = entry.oracle_sql()

    def rows(name: str) -> list[dict]:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    yield rows
    con.close()


@pytest.fixture(scope="module")
def txns(spark, sf_dir):
    df = queries._txns(spark, str(sf_dir)).cache()
    yield df
    df.unpersist()


def test_tax_summary_report_matches_oracle(spark, dims, txns, oracle):
    results = tax.calculate_tax(txns, dims)
    report = reports.tax_summary_report(
        tax.batch_totals(results), tax.state_summary(results)
    )

    (totals,) = oracle("tax_batch_totals")
    s = report["summary"]
    assert s["total_transactions"] == totals["transaction_count"]
    assert s["exempt_transactions"] == totals["exempt_count"]
    for key in ("total_taxable", "total_tax", "total_exempt"):
        assert float(s[key]) == totals[key], key
    assert s["overall_effective_rate"] == pytest.approx(
        totals["total_tax"] / totals["total_taxable"], rel=1e-12
    )

    by_state = {r["state"]: r for r in oracle("tax_state_summary")}
    assert [r["state"] for r in report["state_breakdown"]] == sorted(by_state)
    for r in report["state_breakdown"]:
        want = by_state[r["state"]]
        assert r["transaction_count"] == want["transaction_count"], r
        assert float(r["taxable_amount"]) == want["total_taxable"], r
        assert float(r["tax_collected"]) == want["total_tax"], r
        assert float(r["exempt_amount"]) == want["exempt_amount"], r
        assert r["effective_rate"] == pytest.approx(want["effective_rate"], rel=1e-12)


def test_refund_report_matches_oracle(spark, dims, txns, oracle):
    records = refund.analyze_overpayments(txns, dims, derived.AS_OF)
    n_txns = txns.count()
    summary, state_bd, reason_bd, warnings = refund.refund_summary(
        records, total_transactions_reviewed=n_txns
    )
    report = reports.refund_report(
        summary, state_bd, reason_bd, records, warnings, refund.refund_claims(records)
    )

    (want,) = oracle("refund_summary")
    s = report["summary"]
    assert s["transactions_reviewed"] == n_txns
    assert s["overpayments_found"] == want["overpayment_count"]
    assert float(s["total_overpayment"]) == want["total_overpayment"]
    assert float(s["estimated_recovery"]) == want["estimated_recovery"]

    arms: dict[str, dict] = {"state": {}, "reason": {}}
    for r in oracle("refund_breakdowns"):
        if r["dim"] in arms:
            arms[r["dim"]][r["key"]] = (r["amount"], r["n_records"])
    for section, dim in (("state_breakdown", "state"), ("reason_breakdown", "reason")):
        got = report[section]
        assert {k: float(v) for k, v in got.items()} == {
            k: amount for k, (amount, _) in arms[dim].items()
        }, section
        assert list(got) == sorted(got, key=lambda k: (-got[k], k)), section

    details = report["overpayment_details"]
    assert len(details) == want["overpayment_count"]
    per_state: dict[str, int] = {}
    for d in details:
        per_state[d["state"]] = per_state.get(d["state"], 0) + 1
    assert per_state == {k: n for k, (_, n) in arms["state"].items()}

    claims = {r["state_code"]: r for r in oracle("refund_claims")}
    got_claims = report["refund_claims"]
    assert {c["state"] for c in got_claims} == set(claims)
    for c in got_claims:
        w = claims[c["state"]]
        assert c["period"] == (
            f"{w['claim_period_start'].isoformat()} to "
            f"{w['claim_period_end'].isoformat()}"
        ), c
        assert float(c["amount_requested"]) == w["total_refund_requested"], c
        assert c["transaction_count"] == w["transaction_count"], c
        assert "|".join(c["reasons"]) == w["reasons_joined"], c
    eligible = sum(d["eligible"] for d in details)
    assert eligible == sum(w["transaction_count"] for w in claims.values())
    assert len(report["warnings"]) == len(details) - eligible


def test_nexus_report_matches_oracle(spark, dims, txns, oracle):
    status = nexus.check_nexus(nexus.state_activity(txns), dims)
    report = reports.nexus_report(status)
    want = {r["state_code"]: r for r in oracle("nexus_status")}

    def bucket(w: dict) -> str:
        if w["has_nexus"]:
            return "nexus_established"
        return "approaching_threshold" if w["approaching_threshold"] else "below_threshold"

    got = {
        r["state"]: section
        for section in ("nexus_established", "approaching_threshold", "below_threshold")
        for r in report[section]
    }
    assert got == {k: bucket(w) for k, w in want.items()}
    assert {"nexus_established", "below_threshold"} <= set(got.values())
    s = report["summary"]
    assert s["total_states_analyzed"] == len(want)
    assert s["states_with_nexus"] == len(report["nexus_established"])
    assert s["states_approaching"] == len(report["approaching_threshold"])
    assert s["states_below_threshold"] == len(report["below_threshold"])

    for section in ("nexus_established", "approaching_threshold", "below_threshold"):
        for r in report[section]:
            w = want[r["state"]]
            assert float(r["revenue"]) == w["revenue_in_state"], r
            if "transactions" in r:
                assert r["transactions"] == w["transactions_in_state"], r
            if "revenue_pct" in r:
                assert r["revenue_pct"] == pytest.approx(w["revenue_pct_of_threshold"]), r
    # the report carries counts for established states only; the status
    # rows it is built from carry them for every state
    counts = {r.state_code: r.transactions_in_state for r in status.collect()}
    assert counts == {k: w["transactions_in_state"] for k, w in want.items()}


def test_nexus_alerts_match_oracle(spark, dims, txns, oracle):
    status = nexus.check_nexus(nexus.state_activity(txns), dims)
    rows = alerts.generate_alerts(
        spark, dims, status, registered_states=derived.REGISTERED_STATES,
        as_of=derived.AS_OF,
    ).collect()
    got = [(a.severity, a.state_code) for a in rows if a.deadline is None]
    want = sorted(
        (r["severity"], r["state_code"]) for r in oracle("nexus_alerts")
    )
    assert want
    assert got == want  # severity-ranked (critical < warning), then by state


def test_filing_status_report_matches_oracle(spark, dims, oracle):
    filed = local_frame(
        spark, derived.FILED_PERIODS,
        "state_code string, period_start date, period_end date",
    )
    deadlines = cal.filing_deadlines(
        spark, dims, derived.REGISTERED_STATES, derived.CALENDAR_YEAR,
        derived.CAL_AS_OF, frequency="monthly", filed_periods=filed,
    )
    report = reports.filing_status_report(deadlines)

    want = oracle("filing_calendar")
    by_due = sorted(want, key=lambda w: (w["due_date"], w["state_code"]))
    overdue = [w for w in by_due if w["is_overdue"]]
    upcoming = [
        w for w in by_due if not w["is_overdue"] and 0 <= w["days_until_due"] <= 30
    ]
    assert overdue and upcoming
    assert report["summary"] == {
        "total_filings": len(want),
        "overdue": len(overdue),
        "upcoming_30_days": len(upcoming),
        "filed": sum(w["status"] == "filed" for w in want),
    }

    def expected(w: dict) -> dict:
        return {
            "state": w["state_code"],
            "period": f"{w['period_start'].isoformat()} to {w['period_end'].isoformat()}",
            "due_date": w["due_date"].isoformat(),
            "status": w["status"],
            "days_until_due": w["days_until_due"],
        }

    for section, rows in (("overdue_filings", overdue), ("upcoming_filings", upcoming)):
        got = report[section]
        assert all(float(g.pop("estimated_liability")) == 0.0 for g in got), section
        assert got == [expected(w) for w in rows], section
