"""Golden-value parity tests for the tax-calculation plan.

Each expectation is ported from the reference suite
(/root/reference/tests/test_calculator.py) — see FIXTURES.md §8.
"""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import DecimalType

from tax_compliance_engine_spark import schemas
from tax_compliance_engine_spark.dims import Dims, seed_rows
from tax_compliance_engine_spark.operators import tax
from tax_compliance_engine_spark.schemas import TXN_SCHEMA


def txn(**kw):
    base = dict(
        transaction_id="t1",
        transaction_date=date(2024, 3, 15),
        amount=Decimal("100.00"),
        state="TX",
        city=None,
        item_category=None,
        tax_paid=Decimal("0.00"),
        exemption_certificate=None,
        customer_type="retail",
        pricing_model="exclusive",
    )
    base.update(kw)
    return Row(**base)


def price(spark, dims, rows):
    df = tax.normalize_transactions(spark.createDataFrame(rows, TXN_SCHEMA))
    return tax.calculate_tax(df, dims)


def run_one(spark, dims, **kw):
    return price(spark, dims, [txn(**kw)]).collect()[0]


def test_tx_houston_golden(spark, dims):
    # test_calculator.py:46-53: $500 TX/Houston → 31.25 + 10.00 = 41.25 @ 8.25%
    r = run_one(spark, dims, amount=Decimal("500.00"), city="Houston")
    assert r.state_tax == Decimal("31.25")
    assert r.local_tax == Decimal("10.00")
    assert r.tax_amount == Decimal("41.25")
    assert r.effective_rate == pytest.approx(0.0825)
    assert not r.is_exempt
    assert r.warnings == []


def test_ca_la_golden(spark, dims):
    # test_calculator.py:55-61: $200 CA/Los Angeles → 14.50 + 5.00 = 19.50
    r = run_one(spark, dims, amount=Decimal("200.00"), state="CA", city="Los Angeles")
    assert r.state_tax == Decimal("14.50")
    assert r.local_tax == Decimal("5.00")
    assert r.tax_amount == Decimal("19.50")


def test_no_tax_state_exempt(spark, dims):
    # test_calculator.py:63-73: OR → tax 0, exempt, reason names the state
    r = run_one(spark, dims, amount=Decimal("1000.00"), state="OR")
    assert r.tax_amount == Decimal("0.00")
    assert r.is_exempt
    assert r.exemption_reason == "Oregon has no sales tax"
    assert r.effective_rate == 0.0


def test_unknown_state_warns(spark, dims):
    # test_calculator.py:75-79: unknown code → zero tax, warning, NOT exempt
    r = run_one(spark, dims, state="XX")
    assert r.tax_amount == Decimal("0.00")
    assert not r.is_exempt
    assert r.warnings == ["Unknown state code: XX"]


def test_category_exemption(spark, dims):
    # test_calculator.py:85-88: TX grocery → exempt
    r = run_one(spark, dims, state="TX", item_category="grocery")
    assert r.is_exempt
    assert r.tax_amount == Decimal("0.00")
    assert r.exemption_reason == "TX exempts grocery"


def test_category_alias_and_case(spark, dims):
    # aliases map via lower+trim (calculator.py:149-152)
    r = run_one(spark, dims, state="TX", item_category="  RX ")
    assert r.is_exempt
    assert r.exemption_reason == "TX exempts prescription_drug"


def test_category_not_exempt_in_state(spark, dims):
    # CA does not exempt clothing
    r = run_one(spark, dims, state="CA", city="Los Angeles", item_category="clothing")
    assert not r.is_exempt
    assert r.tax_amount > 0


def test_customer_type_exemption(spark, dims):
    r = run_one(spark, dims, customer_type="wholesale")
    assert r.is_exempt
    assert r.exemption_reason == "Customer type: wholesale"


def test_certificate_exemption(spark, dims):
    r = run_one(spark, dims, exemption_certificate="CERT-123")
    assert r.is_exempt
    assert r.exemption_reason == "Exemption cert: CERT-123"


def test_exemption_arm_order(spark, dims):
    # customer type wins over certificate (calculator.py:141-146)
    r = run_one(
        spark, dims, customer_type="exempt", exemption_certificate="CERT-9"
    )
    assert r.exemption_reason == "Customer type: exempt"


def test_no_tax_state_beats_exemption(spark, dims):
    # branch order: no-tax state arm precedes exemption resolution
    r = run_one(spark, dims, state="OR", customer_type="wholesale")
    assert r.exemption_reason == "Oregon has no sales tax"


def test_null_city_avg_local_fallback(spark, dims):
    # calculator.py:222-224 + 240-244: NULL city in a local-tax state →
    # avg-local fallback plus a warning
    r = run_one(spark, dims, amount=Decimal("100.00"), state="TX", city=None)
    # TX avg combined 8.20% → avg local = 8.20 - 6.25 = 1.95%
    assert r.state_tax == Decimal("6.25")
    assert r.local_tax == Decimal("1.95")
    assert r.warnings == ["No city specified for TX; used average local rate"]


def test_unknown_city_fallback_no_warning(spark, dims):
    # unknown city hits the same avg fallback but does NOT warn
    r = run_one(spark, dims, amount=Decimal("100.00"), state="TX", city="Nowhere")
    assert r.local_tax == Decimal("1.95")
    assert r.warnings == []


def test_city_case_insensitive(spark, dims):
    r = run_one(spark, dims, amount=Decimal("500.00"), state="TX", city="hOuStOn")
    assert r.local_tax == Decimal("10.00")


def test_inclusive_pricing_backout(spark, dims):
    # calculator.py:229-232: taxable = round(amount / (1 + rate))
    r = run_one(
        spark,
        dims,
        amount=Decimal("108.25"),
        state="TX",
        city="Houston",
        pricing_model="inclusive",
    )
    assert r.taxable_amount == Decimal("100.00")
    assert r.tax_amount == Decimal("8.25")


def test_inclusive_backout_half_cent_rounds_up(spark, dims):
    # HALF_UP at an EXACT half-cent quotient: UT/Salt Lake City combined
    # rate 4.85% + 2.35% = 7.2% → 1.072 = 134/125, and
    # 383769.97 / 1.072 = 357994.375 exactly.  Decimal HALF_UP keeps the
    # .5 → 357994.38 (a double-based path that computes the quotient
    # lossily can land a hair under and round down — the exact case the
    # integer-cents oracle twin exists for).
    r = run_one(
        spark,
        dims,
        amount=Decimal("383769.97"),
        state="UT",
        city="Salt Lake City",
        pricing_model="inclusive",
    )
    assert r.taxable_amount == Decimal("357994.38")


def test_per_component_rounding(spark, dims):
    # state and local tax each rounded before summing (calculator.py:236-238)
    r = run_one(spark, dims, amount=Decimal("0.99"), state="TX", city="Houston")
    # 0.99*0.0625 = 0.061875 → 0.06 ; 0.99*0.02 = 0.0198 → 0.02 ; total 0.08
    assert r.state_tax == Decimal("0.06")
    assert r.local_tax == Decimal("0.02")
    assert r.tax_amount == Decimal("0.08")


def test_batch_totals_and_breakdown(spark, dims):
    rows = [
        Row(
            transaction_id=f"t{i}",
            transaction_date=date(2024, 1, 1),
            amount=amt,
            state=st,
            city=city,
            item_category=cat,
            tax_paid=Decimal("0.00"),
            exemption_certificate=None,
            customer_type="retail",
            pricing_model="exclusive",
        )
        for i, (amt, st, city, cat) in enumerate(
            [
                (Decimal("500.00"), "TX", "Houston", None),
                (Decimal("200.00"), "CA", "Los Angeles", None),
                (Decimal("100.00"), "TX", "Houston", "grocery"),
                (Decimal("50.00"), "OR", None, None),
            ]
        )
    ]
    df = tax.normalize_transactions(spark.createDataFrame(rows, TXN_SCHEMA))
    results = tax.calculate_tax(df, dims)
    totals = tax.batch_totals(results).collect()[0]
    assert totals.transaction_count == 4
    assert totals.total_tax == Decimal("60.75")  # 41.25 + 19.50
    assert totals.total_exempt == Decimal("150.00")
    assert totals.exempt_count == 2

    bd = {r.state: r.total_tax for r in tax.state_breakdown(results).collect()}
    assert bd["TX"] == Decimal("41.25")
    assert bd["CA"] == Decimal("19.50")
    assert bd["OR"] == Decimal("0.00")


def test_use_tax_credit(spark, dims):
    # test_calculator.py:162-181: $1000 TX/Houston, $30 already paid → 52.50
    from pyspark.sql import functions as F

    rows = [
        Row(
            transaction_id="u1",
            transaction_date=date(2024, 1, 1),
            amount=Decimal("1000.00"),
            state="TX",
            city="Houston",
            item_category=None,
            tax_paid=Decimal("30.00"),
            exemption_certificate=None,
            customer_type="retail",
            pricing_model="exclusive",
        )
    ]
    df = tax.normalize_transactions(spark.createDataFrame(rows, TXN_SCHEMA))
    r = tax.use_tax(df, dims).collect()[0]
    assert r.tax_amount == Decimal("82.50")
    assert r.credit_applied == Decimal("30.00")
    assert r.net_use_tax == Decimal("52.50")
    assert r.warnings == ["Credit applied for $30.00 tax already paid"]


DIM_SCHEMAS = {
    "state_rates": schemas.STATE_RATES_SCHEMA,
    "local_rates": schemas.LOCAL_RATES_SCHEMA,
    "state_exemptions": schemas.STATE_EXEMPTIONS_SCHEMA,
    "category_aliases": schemas.CATEGORY_ALIASES_SCHEMA,
    "nexus_thresholds": schemas.NEXUS_THRESHOLDS_SCHEMA,
    "filing_due_day": schemas.FILING_DUE_DAY_SCHEMA,
    "sol_years": schemas.SOL_YEARS_SCHEMA,
}


def test_dim_integrity(dims):
    # test_rates.py:21-31, 65-66
    rates = {r.state_code: r for r in dims.state_rates.collect()}
    assert len(rates) == 51
    assert rates["TX"].base_rate == Decimal("0.0625")
    assert rates["CA"].base_rate == Decimal("0.0725")
    assert rates["OR"].base_rate == Decimal("0")
    assert rates["AK"].base_rate == Decimal("0") and rates["AK"].has_local_taxes

    assert set(DIM_SCHEMAS) == set(Dims.__dataclass_fields__)
    for name, schema in DIM_SCHEMAS.items():
        df = getattr(dims, name)
        # declared types (Decimal precision and scale) and nullability
        assert df.schema == schema, name
        got = [tuple(r) for r in df.collect()]
        # row for row, NULLs (notes, county, transaction_threshold) included
        assert got == [tuple(r[f] for f in schema.names) for r in seed_rows(name)], name
        for i, f in enumerate(schema.fields):
            if isinstance(f.dataType, DecimalType):
                assert {row[i].as_tuple().exponent for row in got} == {
                    -f.dataType.scale
                }, (name, f.name)
        # a plan constant: no Python RDD behind it and no cache dependence
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), (name, plan)
        assert "LogicalRDD" not in plan and "InMemoryRelation" not in plan, name
    assert all(
        DIM_SCHEMAS[name][col].nullable
        for name, col in (
            ("state_rates", "notes"),
            ("local_rates", "county"),
            ("nexus_thresholds", "transaction_threshold"),
        )
    )
    assert any(r.transaction_threshold is None for r in dims.nexus_thresholds.collect())


def jobs_run(spark, group, action):
    """``action()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_basket_is_one_job_before_and_after_clear_cache(spark, dims):
    basket = [
        txn(transaction_id="b1", amount=Decimal("500.00"), city="Houston"),
        txn(transaction_id="b2", state="CA", city="Los Angeles", item_category="Food"),
        txn(
            transaction_id="b3",
            state="NY",
            pricing_model="inclusive",
            customer_type="wholesale",
        ),
    ]
    first, jobs = jobs_run(
        spark, "tax-basket-1", lambda: price(spark, dims, basket).collect()
    )
    assert len(first) == 3 and jobs == 1
    spark.catalog.clearCache()
    again, jobs = jobs_run(
        spark, "tax-basket-2", lambda: price(spark, dims, basket).collect()
    )
    assert again == first and jobs == 1


def test_every_seed_lookup_key(spark, dims):
    states = {r["state_code"]: r for r in seed_rows("state_rates")}
    no_tax = {
        code
        for code, r in states.items()
        if r["base_rate"] == 0 and not r["has_local_taxes"]
    }
    local = seed_rows("local_rates")
    exempt = seed_rows("state_exemptions")
    rows = [
        txn(transaction_id=f"lr{i}", state=r["state_code"], city=r["jurisdiction"])
        for i, r in enumerate(local)
    ] + [
        txn(transaction_id=f"ex{i}", state=r["state_code"], item_category=r["category"])
        for i, r in enumerate(exempt)
    ]
    got = {r.transaction_id: r for r in price(spark, dims, rows).collect()}
    assert len(got) == len(rows)

    # every state|city key: the city's own rate on top of the state's
    for i, lr in enumerate(local):
        r = got[f"lr{i}"]
        want = float(states[lr["state_code"]]["base_rate"] + lr["rate"])
        assert not r.is_exempt and r.warnings == [], lr
        assert r.effective_rate == pytest.approx(want, abs=1e-9), lr

    # every state|category key exempts, unless the state has no sales tax
    for i, ex in enumerate(exempt):
        r = got[f"ex{i}"]
        code = ex["state_code"]
        reason = (
            f"{states[code]['state_name']} has no sales tax"
            if code in no_tax
            else f"{code} exempts {ex['category']}"
        )
        assert r.is_exempt and r.tax_amount == Decimal("0.00"), ex
        assert r.exemption_reason == reason, ex
