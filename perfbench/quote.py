"""``quote``: a closed loop of small requests.

~90% are baskets of 1-5 items priced exactly the way ``cli.cmd_calculate``
prices its one item (``createDataFrame`` → ``normalize_transactions`` →
``calculate_tax(...).collect()``); ~10% are ``rates_api.RateDatabase``
lookups.  The executor does almost nothing here, so driver-side plan
building, py4j calls and job scheduling decide the latency.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Row

from tax_compliance_engine_spark import rates_api
from tax_compliance_engine_spark.operators import tax
from tax_compliance_engine_spark.schemas import TXN_SCHEMA

from gen import AS_OF
from tracing import Tracer


def basket_rows(items: list[dict]) -> list[Row]:
    return [
        Row(
            transaction_id=it["transaction_id"],
            transaction_date=AS_OF,
            amount=Decimal(it["amount"]).scaleb(-2),
            state=it["state"],
            city=it["city"],
            item_category=it["item_category"],
            tax_paid=Decimal("0.00"),
            exemption_certificate=it["exemption_certificate"],
            customer_type=it["customer_type"],
            pricing_model=it["pricing_model"],
        )
        for it in items
    ]


def price_basket(spark, dims, items: list[dict], t: Tracer) -> list[tuple]:
    """Price one basket; returns (id, taxable, state_tax, local_tax, tax,
    is_exempt) per item, sorted by id."""
    with t.span("cli.quote_plan"):
        raw = spark.createDataFrame(basket_rows(items), TXN_SCHEMA)
        df = t.call("operators.tax", tax.normalize_transactions, raw)
        res = t.call("operators.tax", tax.calculate_tax, df, dims)
    with t.span("cli.quote_exec"):
        rows = res.collect()
    return sorted(
        (r.transaction_id, r.taxable_amount, r.state_tax, r.local_tax, r.tax_amount, r.is_exempt)
        for r in rows
    )


def lookup(db: rates_api.RateDatabase, req: dict, t: Tracer) -> tuple:
    with t.span("rates_api"):
        rate = db.get_combined_rate(req["state"], req["city"])
        name = db.get_state(req["state"]).state_name
    return (req["state"], req["city"], rate, name)
