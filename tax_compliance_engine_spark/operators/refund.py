"""Refund / overpayment analysis as a composition over the tax plan.

Re-expresses /root/reference/tax_engine/refund_analyzer.py (analyze_transaction
:134-189, analyze_batch :191-252, generate_refund_claims :254-297, quick_scan
:299-314) as DataFrame transformations layered on ``tax.calculate_tax``:

  tax plan → overpayment expr + reason CASE + SOL map lookup → filter(>0)
  → aggregations (global / by state / by reason-prefix) and per-state claims.

SOL arithmetic uses ``add_months`` — the reference's ``date(y±n, m, d)``
*raises* on Feb 29 of a non-leap target year (refund_analyzer.py:129-130);
we adopt clamping (documented divergence, SURVEY §2.8 F8).

Every aggregation here is a single keyed shuffle over the records frame,
which callers cache when they read it more than once; claims nest the record
structs (``collect_list``) only when asked, for report-sized outputs.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dims import Dims, seed_rows
from ..schemas import DEFAULT_SOL_YEARS, MONEY, RECOVERY_RATE
from . import tax


@functools.lru_cache(maxsize=1)
def _sol_years() -> Column:
    """Statute of limitations in years per state (refund_analyzer.py:124-132):
    a ``try_element_at`` lookup into a literal map built once from the
    sol_years seed (the ``tax._lookup_cols`` technique), with
    ``DEFAULT_SOL_YEARS`` for a state absent from the dim."""
    years = tax._map((r["state_code"], r["years"]) for r in seed_rows("sol_years"))
    return F.coalesce(
        F.try_element_at(years, F.col("state")), F.lit(DEFAULT_SOL_YEARS)
    )


@functools.lru_cache(maxsize=8)
def _overpay_cols(as_of: dt.date) -> dict[str, Column]:
    """Memoized Column trees of ``analyze_overpayments`` (keyed by the one
    parameter that enters them) — the ``tax._calc_cols`` rationale: pure
    name-based expressions, ~0.3 s of py4j round-trips per build."""
    overpayment = F.round(F.col("tax_paid") - F.col("tax_amount"), 2).cast(MONEY)

    # Reason derivation (refund_analyzer.py:155-170).  actual rate =
    # float(tax_paid / amount); guard amount=0 (the reference would raise
    # DivisionByZero there — we emit the generic reason instead).
    actual_rate_pct = (F.col("tax_paid") / F.col("amount")).cast("double") * 100
    expected_rate_pct = F.col("effective_rate") * 100
    is_rate_mismatch = (
        (F.col("tax_paid") > F.col("tax_amount"))
        & (F.col("tax_amount") > 0)
        & (F.col("amount") != 0)
    )
    is_no_tax_collected = (F.col("tax_paid") > F.col("tax_amount")) & (
        F.col("tax_amount") <= 0
    )
    reason = (
        F.when(
            F.col("is_exempt"),
            F.concat(F.lit("Exempt transaction taxed: "), F.col("exemption_reason")),
        )
        .when(
            is_rate_mismatch,
            F.format_string(
                "Rate mismatch: paid %.4f%%, correct rate %.4f%%",
                actual_rate_pct,
                expected_rate_pct,
            ),
        )
        .when(is_no_tax_collected, F.lit("Tax collected in no-tax jurisdiction"))
        .otherwise(F.lit("Overpayment detected"))
    )
    # Invariant (pinned by tests): reason_prefix == substring_index(reason,
    # ':', 1) — every arm's text before the first ':' is a constant.
    static_prefix = (
        F.when(F.col("is_exempt"), F.lit("Exempt transaction taxed"))
        .when(is_rate_mismatch, F.lit("Rate mismatch"))
        .when(is_no_tax_collected, F.lit("Tax collected in no-tax jurisdiction"))
        .otherwise(F.lit("Overpayment detected"))
    )

    cutoff = F.add_months(F.lit(as_of), -12 * F.col("sol_years"))
    sol_date = F.add_months(F.col("transaction_date"), 12 * F.col("sol_years"))
    return {
        "overpayment": overpayment,
        "reason": reason,
        "reason_prefix": static_prefix,
        "refund_eligible": F.col("transaction_date") >= cutoff,
        "statute_of_limitations_date": sol_date,
    }


def analyze_overpayments(txns: DataFrame, dims: Dims, as_of: dt.date) -> DataFrame:
    """Per-transaction overpayment records (analyze_transaction,
    refund_analyzer.py:134-189).  Input must be normalized transactions with a
    ``tax_paid`` column; output keeps only rows with overpayment > 0 (P7).

    ``reason`` is the formatted prose; ``reason_prefix`` (text before the
    first ':', F11) is statically determined by the branch conditions and
    is the aggregation key.  A plan that does not read ``reason`` never
    formats it: Catalyst prunes the projection, so aggregations over the
    prefix skip the per-row percent formatting and wide decimal division
    (pinned by ``tests/test_refund.py``)."""
    cols = _overpay_cols(as_of)
    return (
        tax.calculate_tax(txns, dims)
        .withColumn("sol_years", _sol_years())
        .withColumn("overpayment", cols["overpayment"])
        .filter(F.col("overpayment") > 0)
        .withColumns(
            {
                c: cols[c]
                for c in (
                    "reason",
                    "reason_prefix",
                    "refund_eligible",
                    "statute_of_limitations_date",
                )
            }
        )
        .select(
            "transaction_id",
            "transaction_date",
            "state",
            "city",
            F.col("amount").alias("sale_amount"),
            "tax_paid",
            F.col("tax_amount").alias("tax_owed"),
            "overpayment",
            "reason",
            "reason_prefix",
            "refund_eligible",
            "statute_of_limitations_date",
            "sol_years",
        )
    )


def refund_summary(records: DataFrame, total_transactions_reviewed: int | None = None):
    """Global refund rollup (analyze_batch, refund_analyzer.py:202-251).

    Returns (summary_df, state_breakdown_df, reason_breakdown_df, warnings_df).
    ``estimated_recovery`` = round(eligible_overpayment * 0.85, 2)
    (refund_analyzer.py:95, 248-250).  The four outputs each read
    ``records``; cache it first.
    """
    cols = _summary_cols()
    summary = records.agg(*cols["summary"])
    if total_transactions_reviewed is not None:
        summary = summary.withColumn(
            "total_transactions_reviewed", F.lit(total_transactions_reviewed)
        )
    state_bd = (
        records.groupBy("state").agg(cols["amount"]).orderBy(*cols["state_order"])
    )
    reason_bd = (
        records.groupBy(F.col("reason_prefix").alias("reason"))
        .agg(cols["amount"])
        .orderBy(*cols["reason_order"])
    )
    warnings = records.filter(cols["past_sol"]).select(cols["warning"])
    return summary, state_bd, reason_bd, warnings


@functools.lru_cache(maxsize=1)
def _summary_cols() -> dict:
    """Memoized aggregate, sort and warning trees of ``refund_summary``
    (no parameter enters them; the ``_overpay_cols`` rationale)."""
    eligible = F.col("refund_eligible")
    return {
        "summary": (
            F.count("*").cast("long").alias("overpayment_count"),
            F.sum("overpayment").cast(MONEY).alias("total_overpayment"),
            F.min(F.when(eligible, F.col("transaction_date"))).alias(
                "oldest_eligible"
            ),
            F.max(F.when(eligible, F.col("transaction_date"))).alias(
                "newest_eligible"
            ),
            F.round(
                F.sum(F.when(eligible, F.col("overpayment")).otherwise(F.lit(0)))
                * F.lit(RECOVERY_RATE).cast("decimal(3,2)"),
                2,
            )
            .cast(MONEY)
            .alias("estimated_recovery"),
        ),
        "amount": F.sum("overpayment").cast(MONEY).alias("amount"),
        "state_order": (F.desc("amount"), F.col("state")),
        "reason_order": (F.desc("amount"), F.col("reason")),
        "past_sol": ~eligible,
        "warning": F.format_string(
            "Transaction %s in %s is past statute of limitations ($%.2f)",
            F.col("transaction_id"),
            F.col("state"),
            F.col("overpayment").cast("double"),
        ).alias("warning"),
    }


_RECORD_COLS = (
    "transaction_id",
    "transaction_date",
    "sale_amount",
    "tax_paid",
    "tax_owed",
    "overpayment",
    "reason",
)


def refund_claims(records: DataFrame, include_records: bool = False) -> DataFrame:
    """Per-state refund claims over eligible records (generate_refund_claims,
    refund_analyzer.py:254-297), sorted by total requested desc (O7).

    ``include_records`` nests the full record structs via collect_list, for
    report-sized output (SURVEY §7 hard-point 6)."""
    aggs = [
        F.min("transaction_date").alias("claim_period_start"),
        F.max("transaction_date").alias("claim_period_end"),
        F.sum("overpayment").cast(MONEY).alias("total_refund_requested"),
        F.count("*").cast("long").alias("transaction_count"),
        F.sort_array(F.collect_set("reason_prefix")).alias("supporting_reasons"),
        F.first("sol_years").alias("sol_years"),
    ]
    if include_records:
        aggs.append(F.collect_list(F.struct(*_RECORD_COLS)).alias("records"))
    claims = (
        records.filter(F.col("refund_eligible"))
        .groupBy(F.col("state").alias("state_code"))
        .agg(*aggs)
    )
    return claims.withColumn(
        "filing_notes",
        F.format_string(
            "Refund claim for %d transactions. SOL: %d years from transaction "
            "date. Total requested: $%s",
            F.col("transaction_count"),
            F.col("sol_years"),
            F.format_number(F.col("total_refund_requested"), 2),
        ),
    ).orderBy(F.desc("total_refund_requested"), "state_code")


def quick_scan(
    txns: DataFrame,
    dims: Dims,
    as_of: dt.date,
    minimum_overpayment: str = "1.00",
) -> DataFrame:
    """Threshold scan (refund_analyzer.py:299-314): despite the name it is the
    full per-row analysis plus a filter — in Spark literally the same plan."""
    return analyze_overpayments(txns, dims, as_of).filter(
        F.col("overpayment") >= F.lit(minimum_overpayment).cast(MONEY)
    )
