"""Tax calculation as one declarative Catalyst plan.

Re-expresses the reference's per-row decision procedure
(/root/reference/tax_engine/calculator.py:132-256) as two projections:

  dim lookups (state_rates, category_aliases, state_exemptions, local_rates
  as ``try_element_at`` into literal maps)  →  a single chained CASE WHEN
  column tree

Branch order is semantics (calculator.py:164-209): unknown state → no-tax
state → exemption (customer type → certificate → category) → rate math.
Per-component HALF_UP rounding at 2dp (calculator.py:116-118, 236-238):
state_tax and local_tax are rounded *separately* then summed —
sum-of-rounded ≠ rounded-sum, and tests pin this.

Everything is built-in Column expressions: whole-stage codegen end-to-end,
no Python on the executor path.  The four seed dims the tax path reads are
plan constants folded into the projection, not joins: pricing a basket is
one Spark job (no broadcast jobs), and the only wide exchange in the plan is
whatever aggregation the caller adds downstream.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..dims import Dims, seed_rows
from ..schemas import MONEY, RATE


def normalize_transactions(df: DataFrame) -> DataFrame:
    """Boundary normalization (reference cli.py:47-67).

    Upper-cases state, null-ifies empty optional strings, defaults tax_paid
    to 0, customer_type to 'retail', pricing_model to 'exclusive'.
    Missing optional columns are added as nulls so downstream plans can rely
    on the full TXN_SCHEMA surface.
    """
    for col_name in (
        "city",
        "item_category",
        "tax_paid",
        "exemption_certificate",
        "customer_type",
        "pricing_model",
    ):
        if col_name not in df.columns:
            df = df.withColumn(col_name, F.lit(None).cast("string"))
    # Reference boundary semantics (cli.py:47-67): state is trim+upper'd, but
    # optional strings only go through `or None` — empty string → NULL, inner
    # whitespace preserved (trimming happens at the category-alias lookup, not
    # here).  One withColumns call over the memoized trees (replacing an
    # existing column preserves its position, so the schema is identical to
    # the old per-column chain).
    return df.withColumns(_norm_cols())


@functools.lru_cache(maxsize=1)
def _norm_cols() -> dict[str, Column]:
    """Memoized normalization trees (see ``_calc_cols`` for the
    rationale)."""
    blank_to_null = lambda c: F.nullif(F.col(c), F.lit(""))  # noqa: E731
    return {
        "state": F.upper(F.trim("state")),
        "city": blank_to_null("city"),
        "item_category": blank_to_null("item_category"),
        "exemption_certificate": blank_to_null("exemption_certificate"),
        "tax_paid": F.coalesce(
            F.col("tax_paid").cast(MONEY), F.lit(0).cast(MONEY)
        ),
        "customer_type": F.coalesce("customer_type", F.lit("retail")),
        "pricing_model": F.coalesce("pricing_model", F.lit("exclusive")),
    }


def _map(pairs: Iterable[tuple], value_type: DataType | None = None) -> Column:
    """A literal map column from Python (key, value) pairs, values cast to
    ``value_type`` if given (Catalyst folds it to one map constant)."""

    def value(v: object) -> Column:
        return F.lit(v) if value_type is None else F.lit(v).cast(value_type)

    return F.create_map(*(c for k, v in pairs for c in (F.lit(k), value(v))))


@functools.lru_cache(maxsize=1)
def _lookup_cols() -> dict[str, Column]:
    """Memoized dim-lookup columns (see ``_calc_cols`` for the rationale):
    the four seed dims the tax path reads, folded into the projection as
    ``try_element_at`` lookups into literal maps built from ``seed_rows``
    (SURVEY §2.3 J1/J2/P2/J3).  Every map key is unique in the seeds, so
    each lookup returns what the left join it replaces matched, and a miss
    is NULL.  ``try_`` because the session runs ANSI, where a missing key
    in ``element_at`` raises; ``concat`` (not ``concat_ws``) because a
    NULL part must make the key NULL, i.e. a miss.  Each state_rates
    column gets its own scalar map: one map of structs would put the
    struct literals into the plan once per column read from it (measured
    on a 4-vCPU VM: 89 ms instead of 53 ms to build a quote's plan)."""
    states = seed_rows("state_rates")
    by_state = {
        f: _map(((r["state_code"], r[f]) for r in states), value_type)
        for f, value_type in (
            ("state_name", None),
            ("base_rate", RATE),
            ("has_local_taxes", None),
            ("avg_combined_rate", RATE),
        )
    }
    alias = _map((r["alias"], r["category"]) for r in seed_rows("category_aliases"))
    exempt = _map(
        (f"{r['state_code']}|{r['category']}", True)
        for r in seed_rows("state_exemptions")
    )
    city = _map(
        (
            (f"{r['state_code']}|{r['jurisdiction'].lower()}", r["rate"])
            for r in seed_rows("local_rates")
        ),
        RATE,
    )

    sep = F.lit("|")
    mapped_category = F.try_element_at(alias, F.lower(F.trim("item_category")))
    return {
        **{f: F.try_element_at(m, F.col("state")) for f, m in by_state.items()},
        "mapped_category": mapped_category,
        "category_exempt": F.try_element_at(
            exempt, F.concat(F.col("state"), sep, mapped_category)
        ),
        "city_local_rate": F.try_element_at(
            city, F.concat(F.col("state"), sep, F.lower("city"))
        ),
    }


def _round2(c: Column) -> Column:
    """HALF_UP to cents (calculator.py:116-118); Spark rounds decimals HALF_UP."""
    return F.round(c, 2).cast(MONEY)


@functools.lru_cache(maxsize=1)
def _calc_cols() -> dict[str, Column]:
    """Memoized result-column tree of ``calculate_tax`` — every
    expression below is a pure function of input column NAMES (no
    DataFrame-bound references), i.e. an immutable unresolved tree
    reusable across any number of plans.  Building it costs ~0.6 s of
    py4j round-trips (the same per-plan-construction driver tax the
    webops ``_idn_fenced_cached`` family closed in r14); one cached
    build amortizes it across every tax/refund/nexus/report plan in
    the process.  (The cache lives as long as the py4j gateway, which
    outlives SparkSession restarts.)"""
    unknown_state = F.col("state_name").isNull()
    zero = F.lit(0).cast(RATE)
    no_tax_state = (F.col("base_rate") == zero) & (~F.col("has_local_taxes"))

    exempt_customer = F.col("customer_type").isin("wholesale", "exempt")
    exempt_cert = F.col("exemption_certificate").isNotNull()
    exempt_category = F.coalesce(F.col("category_exempt"), F.lit(False))

    # Exemption reason follows _resolve_exemption's arm order
    # (calculator.py:141-153): customer type → certificate → category.
    resolve_reason = (
        F.when(exempt_customer, F.concat(F.lit("Customer type: "), "customer_type"))
        .when(exempt_cert, F.concat(F.lit("Exemption cert: "), "exemption_certificate"))
        .when(
            exempt_category,
            F.concat(F.col("state"), F.lit(" exempts "), "mapped_category"),
        )
    )
    resolved_exempt = exempt_customer | exempt_cert | exempt_category

    # Rate resolution ladder (calculator.py:211-224): exact city match →
    # average-local fallback (both for unknown city and NULL city, iff the
    # state has local taxes) → zero.
    avg_local = F.greatest(
        (F.col("avg_combined_rate") - F.col("base_rate")).cast(RATE), zero
    )
    local_rate = (
        F.when(F.col("city_local_rate").isNotNull(), F.col("city_local_rate"))
        .when(F.col("has_local_taxes"), avg_local)
        .otherwise(zero)
        .cast(RATE)
    )
    combined_rate = (F.col("base_rate") + local_rate).cast(RATE)

    # Tax-inclusive back-out (calculator.py:229-232); exclusive passes through.
    taxable_computed = F.when(
        F.col("pricing_model") == "inclusive",
        _round2(F.col("amount") / (F.lit(1) + combined_rate)),
    ).otherwise(F.col("amount"))

    # Master CASE tree — branch order is the reference's early-return order.
    exempt_like = no_tax_state | resolved_exempt  # after unknown_state arm

    money_zero = F.lit("0.00").cast(MONEY)
    state_tax = F.when(unknown_state | exempt_like, money_zero).otherwise(
        _round2(taxable_computed * F.col("base_rate"))
    )
    local_tax = F.when(unknown_state | exempt_like, money_zero).otherwise(
        _round2(taxable_computed * local_rate)
    )

    taxable_amount = F.when(unknown_state | exempt_like, F.col("amount")).otherwise(
        taxable_computed
    )

    is_exempt = F.when(unknown_state, F.lit(False)).otherwise(exempt_like)

    exemption_reason = (
        F.when(unknown_state, F.lit(""))
        .when(no_tax_state, F.concat(F.col("state_name"), F.lit(" has no sales tax")))
        .when(resolved_exempt, resolve_reason)
        .otherwise(F.lit(""))
    )

    effective_rate = (
        F.when(unknown_state | exempt_like, F.lit(0.0))
        .otherwise(combined_rate.cast("double"))
        .alias("effective_rate")
    )

    warnings = (
        F.when(
            unknown_state,
            F.array(F.concat(F.lit("Unknown state code: "), F.col("state"))),
        )
        .when(exempt_like, F.array().cast("array<string>"))
        .when(
            F.col("city").isNull() & F.col("has_local_taxes"),
            F.array(
                F.concat(
                    F.lit("No city specified for "),
                    F.col("state"),
                    F.lit("; used average local rate"),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )

    return {
        "taxable_amount": taxable_amount,
        "state_tax": state_tax,
        "local_tax": local_tax,
        "tax_amount": (state_tax + local_tax).cast(MONEY),
        "effective_rate": effective_rate,
        "is_exempt": is_exempt,
        "exemption_reason": exemption_reason,
        "warnings": warnings,
    }


def calculate_tax(txns: DataFrame, dims: Dims) -> DataFrame:
    """Per-transaction tax results (reference TaxCalculator.calculate,
    calculator.py:157-256) over an already-normalized transactions DataFrame.

    Adds: taxable_amount, state_tax, local_tax, tax_amount, effective_rate,
    is_exempt, exemption_reason, warnings — preserving all input columns.
    The dim lookups (``_lookup_cols``) and the result columns
    (``_calc_cols``) are memoized trees, each attached in ONE
    ``withColumns`` call (a chained ``withColumn`` per column wraps the
    plan — and pays an analyzer pass — once per column).  The lookups read
    the same seed tables ``load_dims`` builds ``dims`` from, so ``dims``
    is part of the signature the other operators share but is not read.
    """
    return (
        txns.withColumns(_lookup_cols())
        .withColumns(_calc_cols())
        .drop(*_lookup_cols())
    )


def batch_totals(results: DataFrame) -> DataFrame:
    """Global batch aggregation (calculate_batch, calculator.py:258-303).

    ``total_exempt`` sums the *taxable_amount* of exempt rows
    (calculator.py:281-283) — a reference quirk preserved on purpose.
    One-row result; map-side partial aggregation, no keyed shuffle.
    """
    return results.agg(
        F.count("*").alias("transaction_count"),
        F.sum("taxable_amount").cast(MONEY).alias("total_taxable"),
        F.sum("tax_amount").cast(MONEY).alias("total_tax"),
        F.sum(F.when(F.col("is_exempt"), F.col("taxable_amount")).otherwise(F.lit(0)))
        .cast(MONEY)
        .alias("total_exempt"),
        F.sum(F.when(F.col("is_exempt"), 1).otherwise(0))
        .cast("int")
        .alias("exempt_count"),
    )


def state_summary(results: DataFrame) -> DataFrame:
    """Per-state liability summary (report_generator.py:83-108): counts,
    taxable/tax/exempt totals, effective rate with div-0 guard."""
    return (
        results.groupBy("state")
        .agg(
            F.count("*").alias("transaction_count"),
            F.sum("taxable_amount").cast(MONEY).alias("total_taxable"),
            F.sum("tax_amount").cast(MONEY).alias("total_tax"),
            F.sum(
                F.when(F.col("is_exempt"), F.col("taxable_amount")).otherwise(F.lit(0))
            )
            .cast(MONEY)
            .alias("exempt_amount"),
        )
        .withColumn(
            "effective_rate",
            F.when(
                F.col("total_taxable") > 0,
                (F.col("total_tax").cast("double") / F.col("total_taxable").cast("double")),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("state")
    )


def use_tax(txns: DataFrame, dims: Dims) -> DataFrame:
    """Use-tax with credit clamp (calculator.py:305-345):
    credit = min(tax_paid, tax); net = round(tax - credit)."""
    results = calculate_tax(txns, dims)
    credit = F.least(F.col("tax_paid"), F.col("tax_amount")).cast(MONEY)
    return (
        results.withColumn("credit_applied", credit)
        .withColumn("net_use_tax", _round2(F.col("tax_amount") - credit))
        .withColumn(
            "warnings",
            F.when(
                credit > 0,
                F.array(
                    F.concat(
                        F.lit("Credit applied for $"),
                        F.format_number(credit, 2),
                        F.lit(" tax already paid"),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
