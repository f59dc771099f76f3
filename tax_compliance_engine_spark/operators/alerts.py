"""Compliance alert generation: union of nexus- and calendar-derived alerts.

Re-expresses /root/reference/tax_engine/compliance.py:499-593
(generate_alerts) as two DataFrame branches unioned (U1) and sorted by a
severity rank (O6).  The reference recomputes nexus per state inside
generate_alerts (compliance.py:521-525); here the status DataFrame is
computed once and both outputs derive from it (SURVEY §3 entry-point 2).

Faithful quirk: the overdue branch generates each registered state's calendar
for ``as_of.year`` with default (annual) frequency — exactly what the
reference does with its default arguments (compliance.py:560-563), which
means current-year annual returns are never overdue mid-year.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import Dims
from . import calendar as cal


def severity_rank() -> F.Column:
    """critical=0 < warning=1 < info=2 (compliance.py:586-593)."""
    return (
        F.when(F.col("severity") == "critical", 0)
        .when(F.col("severity") == "warning", 1)
        .otherwise(2)
    )


def nexus_alerts(status: DataFrame, registered_states: list[str]) -> DataFrame:
    """Unregistered-nexus (critical) and approaching-threshold (warning)
    alerts from a nexus status DataFrame (compliance.py:521-557)."""
    registered = tuple(sorted({s.upper() for s in registered_states}))
    is_alert, cols = _nexus_alert_cols(registered)
    return status.filter(is_alert).select(*cols.values())


@functools.lru_cache(maxsize=16)
def _nexus_alert_cols(
    registered: tuple[str, ...]
) -> tuple[Column, dict[str, Column]]:
    """The memoized filter and named alert columns (severity, state_code,
    message, action_required, deadline) of ``nexus_alerts`` over a nexus
    status frame, keyed by the sorted registered states, the one parameter
    that enters them (the ``tax._calc_cols`` rationale).  The streaming
    monitor reads the same trees with no registered states.

    A critical alert is unregistered nexus; a warning is an approaching
    threshold without nexus.  The two never hold together, so each column
    picks its critical or warning value with one ``when``."""
    is_registered = (
        F.col("state_code").isin(*registered) if registered else F.lit(False)
    )
    critical = F.col("has_nexus") & ~is_registered
    warning = ~F.col("has_nexus") & F.col("approaching_threshold")
    cols = {
        "severity": F.when(critical, "critical").otherwise("warning"),
        "state_code": F.col("state_code"),
        "message": F.when(
            critical,
            F.format_string(
                "Economic nexus established in %s but not registered for "
                "sales tax collection",
                F.col("state_code"),
            ),
        ).otherwise(
            # Python's {:.0f} rounds half-to-even; Java's %.0f rounds half-up.
            # bround first so exact .5 ties (e.g. 94.5%) match the reference.
            F.format_string(
                "Approaching economic nexus threshold in %s (%d%% of "
                "revenue limit)",
                F.col("state_code"),
                F.bround(F.col("revenue_pct_of_threshold"), 0).cast("long"),
            )
        ),
        "action_required": F.when(
            critical,
            F.format_string(
                "Register for sales tax in %s immediately. Revenue: $%s",
                F.col("state_code"),
                F.format_number(F.col("revenue_in_state"), 2),
            ),
        ).otherwise(
            F.format_string(
                "Monitor %s activity. Prepare registration materials "
                "proactively.",
                F.col("state_code"),
            )
        ),
        "deadline": F.lit(None).cast("date"),
    }
    return critical | warning, {k: c.alias(k) for k, c in cols.items()}


def overdue_alerts(deadlines: DataFrame, as_of: dt.date) -> DataFrame:
    """Overdue-filing alerts from a deadlines DataFrame
    (compliance.py:560-584): critical when > 30 days late."""
    return deadlines.filter(F.col("is_overdue")).select(*_overdue_alert_cols(as_of))


@functools.lru_cache(maxsize=16)
def _overdue_alert_cols(as_of: dt.date) -> tuple[Column, ...]:
    """Memoized alert columns (severity, state_code, message,
    action_required, deadline) of ``overdue_alerts``, keyed by ``as_of``,
    the one parameter that enters them."""
    days_late = F.datediff(F.lit(as_of), F.col("due_date"))
    return (
        F.when(days_late > 30, "critical").otherwise("warning").alias("severity"),
        F.col("state_code"),
        F.format_string(
            "%s return for %s to %s is %d days past due",
            F.col("state_code"),
            F.date_format("period_start", "yyyy-MM-dd"),
            F.date_format("period_end", "yyyy-MM-dd"),
            days_late,
        ).alias("message"),
        F.format_string(
            "File %s return immediately. Late penalties may apply.",
            F.col("state_code"),
        ).alias("action_required"),
        F.col("due_date").alias("deadline"),
    )


def generate_alerts(
    spark: SparkSession,
    dims: Dims,
    status: DataFrame,
    registered_states: list[str],
    as_of: dt.date,
) -> DataFrame:
    """Full alert pipeline: nexus alerts ∪ overdue alerts, severity-sorted."""
    parts = nexus_alerts(status, registered_states)
    if registered_states:
        deadlines = cal.filing_deadlines(
            spark, dims, registered_states, as_of.year, as_of
        )
        parts = parts.unionByName(overdue_alerts(deadlines, as_of))
    return parts.orderBy(severity_rank(), "state_code", "message")
