"""Filing-calendar generation: the reference's only table-generating operator.

Re-expresses /root/reference/tax_engine/compliance.py:371-497
(get_filing_deadlines / get_overdue_filings) plus the due-date and frequency
helpers (:171-200) as a ``sequence`` + ``explode`` generator — a UDTF-shaped
source built entirely from Catalyst expressions:

  states × frequency → sequence(period starts) → explode → last_day bounds
  → due-date rollover via add_months + make_date (F7), the due day a
  literal-map lookup → filed-period probe (J8, a broadcast of the caller's
  frame) → overdue/status columns.

Dec→Jan due-date rollover falls out of ``add_months`` arithmetic; due days
are ≤ 25 so ``make_date`` is always valid.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import Dims, local_frame, seed_rows
from ..schemas import DEFAULT_DUE_DAY
from .tax import _map

# Liability → frequency bucketing (compliance.py:186-200, F14).
FREQ_MONTHLY_MIN = 4800
FREQ_QUARTERLY_MIN = 1200


def determine_frequency_col(liability) -> F.Column:
    return (
        F.when(liability >= FREQ_MONTHLY_MIN, F.lit("monthly"))
        .when(liability >= FREQ_QUARTERLY_MIN, F.lit("quarterly"))
        .otherwise(F.lit("annual"))
    )


@functools.lru_cache(maxsize=1)
def _period_cols() -> dict[str, Column]:
    """Memoized frequency-step and period trees of ``filing_deadlines``
    (no parameter enters them; the ``tax._calc_cols`` rationale), keyed
    by the column each one sets.  The due day is a ``try_element_at``
    lookup into a literal map built once from the filing_due_day seed
    (the ``tax._lookup_cols`` technique), ``DEFAULT_DUE_DAY`` on a miss."""
    freq = F.col("frequency")
    periods_per_year = (
        F.when(freq == "monthly", F.lit(12))
        .when(freq == "quarterly", F.lit(4))
        .otherwise(F.lit(1))
    )
    months_per_period = (
        F.when(freq == "monthly", F.lit(1))
        .when(freq == "quarterly", F.lit(3))
        .otherwise(F.lit(12))
    )
    period_end = F.last_day(
        F.add_months(F.col("period_start"), months_per_period - F.lit(1))
    )
    due_days = _map(
        (r["state_code"], r["due_day"]) for r in seed_rows("filing_due_day")
    )
    due_day = F.coalesce(
        F.try_element_at(due_days, F.col("state_code")), F.lit(DEFAULT_DUE_DAY)
    )
    # Due date = day D of the month after period_end (F7).
    next_month = F.add_months(period_end, 1)
    return {
        "step": (
            F.when(freq == "monthly", F.expr("interval 1 month"))
            .when(freq == "quarterly", F.expr("interval 3 month"))
            .otherwise(F.expr("interval 12 month"))
        ),
        "period_end": period_end,
        "due_date": F.make_date(F.year(next_month), F.month(next_month), due_day),
        "estimated_liability": (
            F.col("estimated_annual_liability") / periods_per_year
        ).cast("decimal(18,6)"),
    }


def filing_deadlines(
    spark: SparkSession,
    dims: Dims,
    states: list[str],
    year: int,
    as_of: dt.date,
    frequency: str | None = None,
    estimated_annual_liability: str | float = 0,
    filed_periods: DataFrame | None = None,
) -> DataFrame:
    """Generate the filing calendar for the given state codes and year.

    Frequency is auto-determined from liability when not supplied (F14).
    """
    base = local_frame(
        spark, [(s.upper(),) for s in states], "state_code string"
    ).withColumn(
        "estimated_annual_liability",
        F.lit(str(estimated_annual_liability)).cast("decimal(18,2)"),
    )

    if frequency is not None:
        base = base.withColumn("frequency", F.lit(frequency))
    else:
        base = base.withColumn(
            "frequency", determine_frequency_col(F.col("estimated_annual_liability"))
        )

    cols = _period_cols()
    df = base.withColumn(
        "period_start",
        F.explode(
            F.sequence(
                F.make_date(F.lit(year), F.lit(1), F.lit(1)),
                F.make_date(F.lit(year), F.lit(12), F.lit(1)),
                cols["step"],
            )
        ),
    ).withColumns(
        {c: cols[c] for c in ("period_end", "estimated_liability", "due_date")}
    )

    # Filed-period probe (J8, compliance.py:235-242, 396-400).
    if filed_periods is not None:
        fp = filed_periods.select(
            F.col("state_code").alias("_fp_state"),
            F.col("period_start").alias("_fp_start"),
            F.col("period_end").alias("_fp_end"),
            F.lit(True).alias("is_filed"),
        )
        df = df.join(
            F.broadcast(fp),
            (F.col("state_code") == F.col("_fp_state"))
            & (F.col("period_start") == F.col("_fp_start"))
            & (F.col("period_end") == F.col("_fp_end")),
            "left",
        )
        is_filed = F.coalesce("is_filed", F.lit(False))
    else:
        is_filed = F.lit(False)

    is_overdue = (F.col("due_date") < F.lit(as_of)) & ~is_filed
    return df.select(
        "state_code",
        "period_start",
        "period_end",
        "due_date",
        "frequency",
        is_overdue.alias("is_overdue"),
        F.datediff("due_date", F.lit(as_of)).alias("days_until_due"),
        "estimated_liability",
        F.when(is_filed, "filed")
        .when(is_overdue, "overdue")
        .otherwise("pending")
        .alias("status"),
    )


def overdue_filings(deadlines: DataFrame) -> DataFrame:
    """P10/O5 (compliance.py:483-497): overdue only, soonest due first."""
    return deadlines.filter(F.col("is_overdue")).orderBy("due_date", "state_code")

