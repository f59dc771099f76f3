"""Economic-nexus evaluation as a grouped aggregate plus one projection.

Re-expresses /root/reference/tax_engine/compliance.py:244-369 (check_nexus /
check_nexus_all_states) as:

  transactions → groupBy(state).agg(revenue, txn_count)   [one shuffle, A3]
  → nexus_thresholds lookups (J4, literal maps) + literal no-nexus set (J5)
  → status/percentage/details column expressions (F15/F16/F12)
  → sort by revenue_pct desc (O4)

At scale the single shuffle is on the 51-value state key — skew toward
CA/TX/NY is handled by partial (map-side) aggregation; the post-agg data is
≤ |states| rows regardless of input size.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dims import Dims, seed_rows
from ..schemas import MONEY, NEXUS_THRESHOLDS_SCHEMA, NO_NEXUS_STATES
from .tax import _map


@functools.lru_cache(maxsize=1)
def threshold_cols() -> dict[str, Column]:
    """The nexus_thresholds dim keyed by the ``state`` column: one
    ``try_element_at`` lookup into a literal map per threshold column,
    built once from ``seed_rows`` (the ``tax._lookup_cols`` technique).
    A state absent from the dim reads NULL in all three, exactly what the
    left join these replace gave; so do the seed rows whose
    ``transaction_threshold`` is NULL.  Shared by every nexus plan, batch
    and streaming."""
    rows = seed_rows("nexus_thresholds")
    return {
        f.name: F.try_element_at(
            _map(((r["state_code"], r[f.name]) for r in rows), f.dataType),
            F.col("state"),
        )
        for f in NEXUS_THRESHOLDS_SCHEMA.fields
        if f.name != "state_code"
    }


def state_activity(txns: DataFrame) -> DataFrame:
    """Per-state revenue/transaction rollup (A3, reference cli.py:246-251)."""
    return txns.groupBy("state").agg(
        F.sum("amount").cast(MONEY).alias("revenue"),
        F.count("*").cast("long").alias("txn_count"),
    )


def _period_predicates(d: F.Column, as_of_lit: F.Column) -> dict:
    """The five measurement-period membership predicates over a date
    column ``d`` at ``as_of``, as ``periodized_activity`` applies them to
    each transaction's date."""
    return {
        "current_year": (d >= F.trunc(as_of_lit, "year")) & (d <= as_of_lit),
        "prior_year": F.year(d) == (F.year(as_of_lit) - 1),
        "rolling_12": (d > F.add_months(as_of_lit, -12)) & (d <= as_of_lit),
        "rolling_4q": (
            d >= F.add_months(F.trunc(as_of_lit, "quarter"), -12)
        )
        & (d <= as_of_lit),
        "all_time": d <= as_of_lit,
    }


def _simple_period_col(mp: F.Column, preds: dict) -> F.Column:
    """Membership under the state's own measurement_period for the four
    single-window semantics (current_or_prior is resolved post-agg as
    the max of the two component windows; no-threshold states measure
    all-time)."""
    return (
        F.when(mp == "current_year", preds["current_year"])
        .when(mp == "prior_year", preds["prior_year"])
        .when(mp == "rolling_12", preds["rolling_12"])
        .when(mp == "rolling_4q", preds["rolling_4q"])
        .otherwise(preds["all_time"])
    )


def periodized_activity(txns: DataFrame, dims: Dims, as_of) -> DataFrame:
    """Per-state activity measured over each state's ``measurement_period``.

    Extension beyond the reference (SURVEY §2.9): the reference stores the
    period on every threshold (compliance.py:46) but compares against
    all-time totals (compliance.py:305-310).  This operator honors it:

    - ``current_year``: Jan 1 of as_of's year .. as_of
    - ``prior_year``: the full previous calendar year
    - ``rolling_12``: the 12 months ending at as_of (exclusive start)
    - ``rolling_4q``: from the start of the quarter 12 months before as_of's
      quarter, through as_of (4 complete quarters + the current partial one)
    - ``current_or_prior``: the better of current_year and prior_year
      (a state qualifies if either period crosses, so measure the max)
    - states without a threshold row: all-time up to as_of

    One map lookup + one state-keyed shuffle with conditional partial
    aggregation — the period logic costs nothing extra at scale."""
    df = txns.withColumn("_mp", threshold_cols()["measurement_period"])

    preds = _period_predicates(F.col("transaction_date"), F.lit(as_of))
    in_cur, in_prior = preds["current_year"], preds["prior_year"]
    in_simple = _simple_period_col(F.col("_mp"), preds)

    def _sum_if(cond) -> F.Column:
        return F.coalesce(
            F.sum(F.when(cond, F.col("amount"))), F.lit(0)
        ).cast(MONEY)

    def _cnt_if(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = df.groupBy("state").agg(
        _sum_if(in_simple).alias("_rev_simple"),
        _cnt_if(in_simple).alias("_cnt_simple"),
        _sum_if(in_cur).alias("_rev_cur"),
        _cnt_if(in_cur).alias("_cnt_cur"),
        _sum_if(in_prior).alias("_rev_prior"),
        _cnt_if(in_prior).alias("_cnt_prior"),
        F.first("_mp").alias("_mp"),
    )
    is_cop = F.col("_mp") == "current_or_prior"
    return agg.select(
        "state",
        F.when(is_cop, F.greatest("_rev_cur", "_rev_prior"))
        .otherwise(F.col("_rev_simple"))
        .alias("revenue"),
        F.when(is_cop, F.greatest("_cnt_cur", "_cnt_prior"))
        .otherwise(F.col("_cnt_simple"))
        .alias("txn_count"),
    )


def check_nexus(
    activity: DataFrame,
    dims: Dims,
    physical_states: set[str] | None = None,
) -> DataFrame:
    """Nexus status per state from an activity rollup with columns
    (state, revenue, txn_count), sorted by revenue percentage.

    Output mirrors NexusStatus (compliance.py:51-65): thresholds, percentage
    columns, nexus_types array, approaching flag, details string.
    """
    return nexus_status(activity, physical_states).orderBy(
        F.desc("revenue_pct_of_threshold"), "state_code"
    )


def nexus_status(
    activity: DataFrame, physical_states: set[str] | None = None
) -> DataFrame:
    """``check_nexus`` without its sort: the one nexus decision, which the
    streaming monitor also applies to its running totals (a global sort
    there would add a range exchange to every micro-batch)."""
    physical = tuple(sorted({s.upper() for s in (physical_states or set())}))
    return activity.withColumns(threshold_cols()).select(*_status_cols(physical))


@functools.lru_cache(maxsize=16)
def _status_cols(physical: tuple[str, ...]) -> tuple[Column, ...]:
    """Memoized output columns of ``check_nexus``, keyed by the sorted
    physical-presence states, the one parameter that enters them (the
    ``tax._calc_cols`` rationale: the tree costs thousands of py4j round
    trips to build).  One projection over the looked-up thresholds, so
    every column reads the dim's own values, never an overwritten one."""
    is_no_nexus_state = F.col("state").isin(*NO_NEXUS_STATES)
    no_threshold_data = F.col("revenue_threshold").isNull()
    is_physical = (
        F.col("state").isin(*physical) if physical else F.lit(False)
    )

    rev_pct = F.when(
        F.col("revenue_threshold") > 0,
        (F.col("revenue").cast("double") / F.col("revenue_threshold").cast("double"))
        * 100,
    ).otherwise(F.lit(0.0))
    txn_pct = F.when(
        F.col("transaction_threshold").isNotNull(),
        F.col("txn_count").cast("double")
        / F.col("transaction_threshold").cast("double")
        * 100,
    )

    economic = (F.col("revenue") >= F.col("revenue_threshold")) | (
        F.col("transaction_threshold").isNotNull()
        & (F.col("txn_count") >= F.col("transaction_threshold"))
    )

    # Branch order follows check_nexus's early returns (compliance.py:258-287):
    # no-nexus state → missing threshold data → threshold evaluation.
    special = is_no_nexus_state | no_threshold_data

    has_nexus = (
        F.when(is_no_nexus_state, F.lit(False))
        .when(no_threshold_data, is_physical)
        .otherwise(is_physical | economic)
    )
    nexus_types = (
        F.when(is_no_nexus_state, F.array().cast("array<string>"))
        .when(
            no_threshold_data,
            F.when(is_physical, F.array(F.lit("physical"))).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .otherwise(
            F.filter(
                F.array(
                    F.when(is_physical, F.lit("physical")),
                    F.when(economic, F.lit("economic")),
                ),
                lambda x: x.isNotNull(),
            )
        )
    )

    # Details string (compliance.py:318-328); money with thousands commas.
    details = (
        F.when(
            is_no_nexus_state,
            F.concat(F.col("state"), F.lit(" has no sales tax")),
        )
        .when(no_threshold_data, F.lit("No economic nexus data available"))
        .otherwise(
            F.concat_ws(
                "; ",
                F.format_string(
                    "Revenue: $%s / $%s (%.1f%%)",
                    F.format_number(F.col("revenue"), 2),
                    F.format_number(F.col("revenue_threshold"), 2),
                    rev_pct,
                ),
                F.when(
                    F.col("transaction_threshold").isNotNull(),
                    F.format_string(
                        "Transactions: %d / %d (%.1f%%)",
                        F.col("txn_count"),
                        F.col("transaction_threshold"),
                        txn_pct,
                    ),
                ),
                F.concat(F.lit("Period: "), F.col("measurement_period")),
            )
        )
    )

    zero_money = F.lit(0).cast(MONEY)
    return (
        F.col("state").alias("state_code"),
        has_nexus.alias("has_nexus"),
        nexus_types.alias("nexus_types"),
        F.col("revenue").alias("revenue_in_state"),
        F.col("txn_count").alias("transactions_in_state"),
        F.when(special, zero_money)
        .otherwise(F.col("revenue_threshold"))
        .alias("revenue_threshold"),
        F.when(special, F.lit(None).cast("int"))
        .otherwise(F.col("transaction_threshold"))
        .alias("transaction_threshold"),
        F.when(special, F.lit(0.0))
        .otherwise(rev_pct)
        .alias("revenue_pct_of_threshold"),
        F.when(special, F.lit(None).cast("double"))
        .otherwise(txn_pct)
        .alias("transaction_pct_of_threshold"),
        F.when(special, F.lit(False))
        .otherwise(
            ((rev_pct >= 80) | F.coalesce(txn_pct >= 80, F.lit(False)))
            & ~(is_physical | economic)
        )
        .alias("approaching_threshold"),
        details.alias("details"),
    )
