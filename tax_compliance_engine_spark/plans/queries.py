"""Spark-side implementations of every declared query (driver contract).

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names and types line up with the DuckDB oracle SQL in plans/oracle.py.
Money flows as DECIMAL end-to-end and is cast to DOUBLE only in the final
select (see oracle.py's determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import load_dims
from ..operators import calendar as cal
from ..operators import alerts, nexus, refund, tax
from . import derived

def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session TZ: the driver may hand us a session with a non-UTC
    zone, which would shift timestamp→date casts relative to the (TZ-naive)
    DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tax.normalize_transactions(
        derived.derive_transactions(_utc(spark), sf_dir)
    )


def _tax_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tax.calculate_tax(_txns(spark, sf_dir), load_dims(spark))


def _d(c: str) -> F.Column:
    return F.col(c).cast("double").alias(c)


# ── Tax family ───────────────────────────────────────────────────────


def tax_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tax_results(spark, sf_dir).select(
        "transaction_id",
        "transaction_date",
        "state",
        "city",
        "item_category",
        _d("amount"),
        _d("taxable_amount"),
        _d("state_tax"),
        _d("local_tax"),
        _d("tax_amount"),
        "effective_rate",
        "is_exempt",
        "exemption_reason",
        F.size("warnings").alias("n_warnings"),
    )


def tax_calc_inclusive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 tax-inclusive back-out (reference calculator.py:229-232) under the
    oracle hash gate: every other order key is re-priced 'inclusive', so
    taxable = round(amount / (1 + combined_rate), 2) and the taxes compound
    on the backed-out base.  Money is emitted as integer cents (decimal ×
    100 is exact, then a lossless cast to long) — no float ever enters the
    compared values."""
    txns = _txns(spark, sf_dir).withColumn(
        "pricing_model",
        F.when(
            F.col("transaction_id").cast("long") % 2 == 0, F.lit("inclusive")
        ).otherwise(F.lit("exclusive")),
    )
    res = tax.calculate_tax(txns, load_dims(spark))

    def cents(c: str, out: str) -> F.Column:
        return (F.col(c) * 100).cast("long").alias(out)

    return res.select(
        "transaction_id",
        "state",
        "pricing_model",
        cents("amount", "amount_cents"),
        cents("taxable_amount", "taxable_cents"),
        cents("state_tax", "state_tax_cents"),
        cents("local_tax", "local_tax_cents"),
        cents("tax_amount", "tax_cents"),
        "is_exempt",
    )


def use_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Use-tax credit clamp (F3, calculator.py:305-345): credit =
    min(tax_paid, tax); net = round(tax - credit)."""
    results = tax.use_tax(_txns(spark, sf_dir), load_dims(spark))
    return results.select(
        "transaction_id",
        "state",
        _d("tax_amount"),
        _d("tax_paid"),
        _d("credit_applied"),
        _d("net_use_tax"),
    )


def tax_state_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tax.state_summary(_tax_results(spark, sf_dir)).select(
        "state",
        "transaction_count",
        _d("total_taxable"),
        _d("total_tax"),
        _d("exempt_amount"),
        "effective_rate",
    )


def tax_batch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tax.batch_totals(_tax_results(spark, sf_dir)).select(
        "transaction_count",
        _d("total_taxable"),
        _d("total_tax"),
        _d("total_exempt"),
        "exempt_count",
    )


# ── Refund family ────────────────────────────────────────────────────


def _refund_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return refund.analyze_overpayments(
        _txns(spark, sf_dir), load_dims(spark), derived.AS_OF
    )


def refund_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _refund_records(spark, sf_dir).select(
        "transaction_id",
        "transaction_date",
        "state",
        "city",
        _d("sale_amount"),
        _d("tax_paid"),
        _d("tax_owed"),
        _d("overpayment"),
        "reason_prefix",
        "refund_eligible",
        "statute_of_limitations_date",
    )


def _quick_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return refund.quick_scan(_txns(spark, sf_dir), load_dims(spark), derived.AS_OF)


def refund_quick_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 threshold scan: the record plan + a minimum-overpayment filter."""
    return _quick_scan(spark, sf_dir).select(
        "transaction_id", "state", _d("overpayment"), "reason_prefix"
    )


def refund_state_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, state_bd, _, _ = refund.refund_summary(_refund_records(spark, sf_dir))
    return state_bd.select("state", _d("amount"))


def refund_reason_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, reason_bd, _ = refund.refund_summary(_refund_records(spark, sf_dir))
    return reason_bd.select("reason", _d("amount"))


def refund_breakdowns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of the three refund aggregate views in ONE union-with-marker
    result (driver-slot composite): per-state totals (dim='state'), per-
    reason totals (dim='reason'), and the P8 quick-scan per-state totals
    (dim='scan' — only overpayments ≥ $1.00, exercising the threshold
    filter under the hash gate).  Each arm sums with
    ``refund.refund_summary``'s breakdown aggregate and adds a row count."""
    recs = _refund_records(spark, sf_dir)
    amount = refund._summary_cols()["amount"]

    def arm(dim: str, key: str, filtered: DataFrame) -> DataFrame:
        return filtered.groupBy(F.col(key).alias("key")).agg(
            F.count("*").alias("n_records"), amount
        ).select(F.lit(dim).alias("dim"), "key", "n_records", _d("amount"))

    return (
        arm("state", "state", recs)
        .unionByName(arm("reason", "reason_prefix", recs))
        .unionByName(arm("scan", "state", _quick_scan(spark, sf_dir)))
    )


def refund_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary, _, _, _ = refund.refund_summary(_refund_records(spark, sf_dir))
    return summary.select(
        "overpayment_count",
        _d("total_overpayment"),
        "oldest_eligible",
        "newest_eligible",
        _d("estimated_recovery"),
    )


def refund_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    return refund.refund_claims(_refund_records(spark, sf_dir)).select(
        "state_code",
        "claim_period_start",
        "claim_period_end",
        _d("total_refund_requested"),
        "transaction_count",
        F.array_join("supporting_reasons", "|").alias("reasons_joined"),
    )


# ── Nexus / compliance family ────────────────────────────────────────


def _nexus_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    activity = nexus.state_activity(_txns(spark, sf_dir))
    return nexus.check_nexus(activity, load_dims(spark))


def nexus_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nexus_status(spark, sf_dir).select(
        "state_code",
        "has_nexus",
        _d("revenue_in_state"),
        "transactions_in_state",
        _d("revenue_threshold"),
        "transaction_threshold",
        "revenue_pct_of_threshold",
        "transaction_pct_of_threshold",
        "approaching_threshold",
    )


def nexus_periodized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nexus status with measurement_period honored (SURVEY §2.9 extension):
    per-state activity restricted to each state's measurement window."""
    activity = nexus.periodized_activity(
        _txns(spark, sf_dir), load_dims(spark), derived.NEXUS_AS_OF
    )
    return nexus.check_nexus(activity, load_dims(spark)).select(
        "state_code",
        "has_nexus",
        _d("revenue_in_state"),
        "transactions_in_state",
        _d("revenue_threshold"),
        "transaction_threshold",
        "revenue_pct_of_threshold",
        "transaction_pct_of_threshold",
        "approaching_threshold",
    )


def nexus_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter and severity of ``alerts.nexus_alerts`` over the registered
    states, with an alert type per severity."""
    registered = tuple(sorted({s.upper() for s in derived.REGISTERED_STATES}))
    is_alert, cols = alerts._nexus_alert_cols(registered)
    return (
        _nexus_status(spark, sf_dir)
        .filter(is_alert)
        .select(cols["severity"], "state_code", _d("revenue_in_state"))
        .withColumn(
            "alert_type",
            F.when(F.col("severity") == "critical", "unregistered_nexus").otherwise(
                "approaching_threshold"
            ),
        )
    )


def filing_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    filed = spark.createDataFrame(
        derived.FILED_PERIODS,
        "state_code string, period_start date, period_end date",
    )
    return cal.filing_deadlines(
        spark,
        load_dims(spark),
        derived.REGISTERED_STATES,
        derived.CALENDAR_YEAR,
        derived.CAL_AS_OF,
        frequency="monthly",
        filed_periods=filed,
    ).select(
        "state_code",
        "period_start",
        "period_end",
        "due_date",
        "frequency",
        "is_overdue",
        "days_until_due",
        "status",
    )


# ── Rate-database family ─────────────────────────────────────────────


def rates_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_dims(spark)
        .state_rates.select("state_code", "state_name", _d("avg_combined_rate"))
        .orderBy(F.desc("avg_combined_rate"), "state_code")
        .limit(10)
    )


def rates_lowest10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_dims(spark)
        .state_rates.filter(F.col("base_rate") > 0)
        .select("state_code", "state_name", _d("avg_combined_rate"))
        .orderBy("avg_combined_rate", "state_code")
        .limit(10)
    )


def no_tax_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_dims(spark)
        .state_rates.filter(F.col("base_rate") == 0)
        .select("state_code")
        .orderBy("state_code")
    )


def rates_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite rate-database query (driver-slot composite): the top-10
    highest combined rates (bucket='top'), the 10 lowest NONZERO rates
    (bucket='low'), and every no-sales-tax state (bucket='zero') in one
    marker-tagged union — O1 + O2 + P5 under a single hash gate."""
    top = rates_top10(spark, sf_dir).select(F.lit("top").alias("bucket"), "*")
    low = rates_lowest10(spark, sf_dir).select(F.lit("low").alias("bucket"), "*")
    zero = (
        load_dims(spark)
        .state_rates.filter(F.col("base_rate") == 0)
        .select(
            F.lit("zero").alias("bucket"),
            "state_code",
            "state_name",
            _d("avg_combined_rate"),
        )
    )
    return top.unionByName(low).unionByName(zero)


def states_exempting_grocery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_dims(spark)
        .state_exemptions.filter(F.col("category") == "grocery")
        .select("state_code")
        .orderBy("state_code")
    )


# ── Generic relational / windowed queries over the star schema ───────


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate: exact decimal sums, double at the edge."""
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax_ = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax_))
            .cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty", F.col("sum_qty") / F.col("count_order").cast("double")
        )
        .withColumn(
            "avg_price", F.col("sum_base_price") / F.col("count_order").cast("double")
        )
    )


def supplier_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup: lineitem joined to part, supplier,
    and nation, aggregated to discounted revenue per (nation, brand).
    Every dimension side is an explicit broadcast — part/supplier/nation
    are KB-to-MB at any scale — so the fact table flows scan→3 broadcast
    joins→one (nation, brand) hash aggregate in a single codegen span
    with exactly ONE shuffle (the final narrow group-by).  Decimal-exact
    revenue sums, double at the edge (the ``pricing_summary`` recipe, so
    the twin hash-compares bit-for-bit)."""
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP aggregation: per (returnflag, linestatus), per
    returnflag subtotal, and grand total in ONE pass (Spark lowers rollup
    to a single Expand + hash aggregate — no re-scan per level, the same
    plan shape at 100 TB).  GROUPING() markers disambiguate subtotal rows
    from any natural NULL group values."""
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.count("*").alias("count_order"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(
            F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile profile (the Pareto/Lorenz rollup every
    revenue dashboard carries): exact NTILE(10) over per-customer
    revenue, each decile's customer count, exact revenue cents, and
    revenue / cumulative-revenue shares.

    Scale design (100 TB): SQL ntile needs a TOTAL order — the naive
    window is one single-partition sort of every customer.  Here the
    global rank is ``topk.sharded_global_rank`` (the audited two-level
    pattern shared with dedup.snm_candidates): the zero-padded decimal
    string of rev_cents sorts exactly like the integer, so its 4-char
    prefix shards the sort contiguously.  The ascending rank by
    (rev asc, custkey desc) is flipped to the (rev desc, custkey asc)
    rank ntile is defined over, and the tile index is the standard
    SQL formula from (rank, N) — pure integer arithmetic.  The only
    global window runs over the 10 decile rows.  Revenue stays in
    exact integer cents end-to-end; the two shares are exactly-rounded
    int→double divisions."""
    from pyspark.sql.window import Window

    from ..operators.topk import sharded_global_rank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    keyed = rev.withColumn(
        "_key", F.lpad(F.col("rev_cents").cast("string"), 18, "0")
    )
    total_n = keyed.agg(F.count(F.lit(1)).alias("_n"))
    ranked = (
        sharded_global_rank(
            keyed, key="_key", tiebreak=F.desc("o_custkey"), shard_len=4
        )
        .crossJoin(F.broadcast(total_n))
        .withColumn("_rank", F.col("_n") - F.col("_r") + 1)
    )
    # standard SQL ntile(k) from (rank, N): first N%k tiles get N/k+1 rows
    k = 10
    q = F.col("_n") - F.col("_n") % k  # q*k, kept integral
    qq = (q / k).cast("long")
    r = F.col("_n") % k
    tile = F.when(
        F.col("_rank") <= r * (qq + 1),
        ((F.col("_rank") - 1) / (qq + 1)).cast("long") + 1,
    ).otherwise(
        # when N < k every rank lands in the first branch, so the
        # greatest() only dodges a never-taken division by zero
        r
        + (
            (F.col("_rank") - 1 - r * (qq + 1)) / F.greatest(qq, F.lit(1))
        ).cast("long")
        + 1
    )
    per_decile = (
        ranked.withColumn("decile", tile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_decile.withColumn("_total", F.sum("revenue_cents").over(wall))
        .withColumn("_cum", F.sum("revenue_cents").over(wcum))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "revenue_cents",
            (
                F.col("revenue_cents").cast("double")
                / F.col("_total").cast("double")
            ).alias("revenue_share"),
            (
                F.col("_cum").cast("double") / F.col("_total").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def customer_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def _events_with_ts_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with an exact integer epoch-seconds column `ts_sec`.

    Handles both physical encodings the driver has generated for events.ts:
    parquet TIMESTAMP(NANOS) (vectorized reader rejects it — read as raw
    nanos via the legacy conf and integer-divide) and plain TIMESTAMP
    (micros, NTZ) — cast through session-UTC timestamp to floor seconds.
    Both match the oracle's ``epoch_ns(ts) // 1e9`` exactly."""
    from pyspark.sql.types import LongType

    _utc(spark).conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, LongType):
        ts_sec = F.expr("ts DIV 1000000000")
    else:
        ts_sec = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    return ev.withColumn("ts_sec", ts_sec)


def _events_with_ts_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with an exact integer epoch-MICROseconds column `ts_us`
    (same dual-encoding handling as ``_events_with_ts_sec``; micros keep the
    full stored precision so as-of/range ordering is exact)."""
    from pyspark.sql.types import LongType

    _utc(spark).conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, LongType):
        ts_us = F.expr("ts DIV 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.withColumn("ts_us", ts_us)


def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the event stream: every purchase matched to the SAME
    user's most recent at-or-before click (attribution join).  Exercises the
    union-marker windowed as-of operator (operators/temporal.py) — one
    shuffle on user_id, no theta join.  Ties broken by greatest click
    event_id, so the result is fully deterministic and the DuckDB twin is an
    ordered LATERAL rather than DuckDB's tie-unspecified ASOF JOIN."""
    from ..operators import temporal

    ev = _events_with_ts_us(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", F.col("value").alias("p_value")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        "ts_us",
        F.col("value").alias("click_value"),
    )
    joined = temporal.asof_join(
        p,
        c,
        on="ts_us",
        by="user_id",
        tiebreak="click_event_id",
        right_cols=["click_event_id", "ts_us", "click_value"],
        suffix="_c",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("p_ts_us"),
        "p_value",
        F.col("click_event_id_c").alias("click_event_id"),
        F.col("ts_us_c").alias("click_ts_us"),
        F.col("click_value_c").alias("click_value"),
        (F.col("ts_us") - F.col("ts_us_c")).alias("lag_us"),
    )


def events_asof_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: every click matched to the same user's earliest
    at-or-after purchase (conversion join) — the mirrored direction of
    ``events_asof``, tie-broken by smallest purchase event_id."""
    from ..operators import temporal

    ev = _events_with_ts_us(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us", F.col("value").alias("c_value")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        "ts_us",
        F.col("value").alias("p_value"),
    )
    joined = temporal.asof_join(
        c,
        p,
        on="ts_us",
        by="user_id",
        tiebreak="p_event_id",
        right_cols=["p_event_id", "ts_us", "p_value"],
        suffix="_p",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("c_ts_us"),
        "c_value",
        F.col("p_event_id_p").alias("p_event_id"),
        F.col("ts_us_p").alias("p_ts_us"),
        F.col("p_value_p").alias("p_value"),
        (F.col("ts_us_p") - F.col("ts_us")).alias("lead_us"),
    )


def events_asof_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH as-of directions in one marker-tagged union (driver-slot
    composite): 'backward' = purchases attributed to the latest at-or-
    before click (events_asof), 'forward' = clicks converted by the
    earliest at-or-after purchase (events_asof_next), renamed to a common
    (event, matched) schema.  delta_us is the non-negative gap in both."""
    back = events_asof(spark, sf_dir).select(
        F.lit("backward").alias("direction"),
        "event_id",
        "user_id",
        F.col("p_ts_us").alias("ts_us"),
        F.col("p_value").alias("value"),
        F.col("click_event_id").alias("matched_event_id"),
        F.col("click_ts_us").alias("matched_ts_us"),
        F.col("click_value").alias("matched_value"),
        F.col("lag_us").alias("delta_us"),
    )
    fwd = events_asof_next(spark, sf_dir).select(
        F.lit("forward").alias("direction"),
        "event_id",
        "user_id",
        F.col("c_ts_us").alias("ts_us"),
        F.col("c_value").alias("value"),
        F.col("p_event_id").alias("matched_event_id"),
        F.col("p_ts_us").alias("matched_ts_us"),
        F.col("p_value").alias("matched_value"),
        F.col("lead_us").alias("delta_us"),
    )
    return back.unionByName(fwd)


def events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join over the event stream: all (purchase, click)
    pairs of the same user with the click inside the purchase's 4-hour
    look-back window.  Exercises the bucketized band join
    (operators/temporal.py) — candidates come from a (user, time-bucket)
    equi-join, never a per-user cross product."""
    from ..operators import temporal

    window_us = 4 * 3600 * 1_000_000
    ev = _events_with_ts_us(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event_id"), F.col("ts_us").alias("p_ts_us")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("ts_us").alias("click_ts_us"),
    )
    return temporal.range_join(
        p, c, by="user_id", left_ts="p_ts_us", right_ts="click_ts_us",
        lower=-window_us, upper=0,
    ).select(
        "user_id",
        "p_event_id",
        "click_event_id",
        "p_ts_us",
        "click_ts_us",
        (F.col("p_ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap via lag + running sum."""
    from pyspark.sql.window import Window

    ev = _events_with_ts_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_sec", F.lag("ts_sec").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_sec").isNull()
            | (F.col("ts_sec") - F.col("prev_sec") > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", F.col("session_id").cast("int").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.from_unixtime(F.min("ts_sec"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.from_unixtime(F.max("ts_sec"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
        )
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup over the event stream table: per (hour, type)
    counts and exact-decimal value sums (double sums are order-sensitive)."""
    ev = _events_with_ts_sec(spark, sf_dir)
    hour_sec = F.col("ts_sec") - (F.col("ts_sec") % 3600)
    return (
        ev.groupBy(
            F.from_unixtime(hour_sec, "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


FUNNEL_STEPS = ["view", "click", "purchase"]

# Monday-aligned week index from epoch seconds: 1970-01-01 was a
# Thursday, so shifting by +3 days puts week boundaries on Mondays —
# pure integer arithmetic, identical in both engines (no engine
# date_trunc('week') semantics in play).
_WEEK_SEC = 604_800
_WEEK_SHIFT = 259_200


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: per user, the
    earliest 'view', then the earliest 'click' strictly AFTER it, then
    the earliest 'purchase' strictly after THAT — the classic
    product-analytics funnel with first-touch semantics.  Output: one
    row per step (step, event_type, n_users, conversion), conversion =
    step users / step-1 users as one exactly-rounded division.

    Scale shape: each step is a filtered scan + one (user_id) min
    aggregation joined against the previous step's per-user frontier —
    k steps = k narrow keyed shuffles of (user, ts) pairs, never the
    event payload; the final assembly is a handful of scalar counts
    (the result IS 3 rows)."""
    ev = _events_with_ts_sec(spark, sf_dir).select(
        "user_id", "event_type", "ts_sec"
    )
    frontier = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("_t"))
    )
    step_frames = [frontier]
    for step_name in FUNNEL_STEPS[1:]:
        frontier = (
            ev.filter(F.col("event_type") == step_name)
            .join(frontier.select("user_id", F.col("_t").alias("_prev")), "user_id")
            .filter(F.col("ts_sec") > F.col("_prev"))
            .groupBy("user_id")
            .agg(F.min("ts_sec").alias("_t"))
        )
        step_frames.append(frontier)
    counts = None
    for i, (step_name, frame) in enumerate(zip(FUNNEL_STEPS, step_frames)):
        c = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(step_name).alias("event_type"),
            F.col("n_users").cast("long").alias("n_users"),
        )
        counts = c if counts is None else counts.unionByName(c)
    first = counts.filter(F.col("step") == 1).select(
        F.col("n_users").alias("_n1")
    )
    return counts.crossJoin(F.broadcast(first)).select(
        "step",
        "event_type",
        "n_users",
        (F.col("n_users").cast("double") / F.col("_n1").cast("double")).alias(
            "conversion"
        ),
    )


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the Monday-aligned
    week of their FIRST event; for every (cohort, later activity week)
    the number of cohort users active that week — the
    cohort-triangle every growth dashboard draws.  Integer week
    arithmetic end to end (counts only), so the twin hash-compares
    bit-exact.

    Scale shape: one (user) min-aggregation for cohorts, one DISTINCT
    (user, week) projection, one keyed join + (cohort, offset) count —
    all narrow keyed shuffles with map-side combine."""
    ev = _events_with_ts_sec(spark, sf_dir)
    # integer div, not `/` (which is double division in Spark SQL)
    wk = F.expr(f"(ts_sec + {_WEEK_SHIFT}) div {_WEEK_SEC}")
    marked = ev.select("user_id", wk.alias("_wk"))
    cohorts = marked.groupBy("user_id").agg(F.min("_wk").alias("_cwk"))
    active = marked.distinct()
    return (
        active.join(cohorts, "user_id")
        .groupBy(
            F.from_unixtime(
                F.col("_cwk") * _WEEK_SEC - _WEEK_SHIFT, "yyyy-MM-dd"
            ).alias("cohort_week"),
            (F.col("_wk") - F.col("_cwk")).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


EWMA_ALPHA = 0.25  # exact in binary: every fold step is two exact muls + one rounded add


def events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike detection over the hourly event-type time series — the
    monitoring query an ops pipeline runs on its ingest volumes: per
    (event_type, hour), flag hours whose count exceeds 2× the
    exponentially-weighted moving average of all PRIOR hours
    (e₁ = x₁, e_t = α·x_t + (1−α)·e_{t−1}, α = 0.25 — α and 1−α are
    exact binary fractions, so the whole recurrence is a chain of
    exactly-rounded IEEE ops both engines reproduce bit-for-bit via the
    same prefix folds).

    Per-group state is O(hours in the time range) — bounded by the
    CALENDAR, not the corpus (a year is ~8.8k hours) — so the
    collect-and-fold is safe at any data scale; the heavy part (hourly
    counts) is one map-side-combinable aggregation.

    Output: (event_type, hour_start, n_events, ewma_prev, is_spike);
    the first hour of each series has NULL ewma_prev and never flags."""
    ev = _events_with_ts_sec(spark, sf_dir)
    counts = ev.groupBy(
        "event_type",
        (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("_hour_sec"),
    ).agg(F.count("*").alias("n_events"))
    grouped = counts.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("_hour_sec", "n_events"))
        ).alias("_xs")
    )
    ns = F.transform(F.col("_xs"), lambda s: s["n_events"].cast("double"))
    rows = grouped.select(
        "event_type",
        ns.alias("_ns"),
        F.posexplode("_xs").alias("_pos", "_x"),
    )
    # rank r = _pos + 1; prior EWMA folds _ns[2 .. r-1] seeded by _ns[1]
    ewma_prev = F.when(
        F.col("_pos") > 0,
        F.aggregate(
            F.slice(F.col("_ns"), F.lit(2), F.col("_pos") - 1),
            F.element_at(F.col("_ns"), 1),
            lambda acc, v: F.lit(EWMA_ALPHA) * v
            + F.lit(1.0 - EWMA_ALPHA) * acc,
        ),
    )
    return rows.select(
        "event_type",
        F.from_unixtime(F.col("_x._hour_sec"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        F.col("_x.n_events").alias("n_events"),
        ewma_prev.alias("ewma_prev"),
        F.coalesce(
            F.col("_x.n_events").cast("double") > F.lit(2.0) * ewma_prev,
            F.lit(False),
        ).alias("is_spike"),
    )


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with LOCF interpolation
    (operators/temporal.py gapfill_locf): the full min→max hour spine,
    exact per-cell counts (0 on the 200+ genuinely empty cells at
    sf0.01), and the latest event's value carried forward across gaps —
    the regularization step rolling/forecast consumers assume.  The
    carried double is a value copy ordered by the unique (ts_us,
    event_id), so the result stays bit-exact across engines."""
    from tax_compliance_engine_spark.operators import temporal

    ev = _events_with_ts_us(spark, sf_dir).withColumn(
        "ts_sec", F.expr("ts_us DIV 1000000")
    )
    return temporal.gapfill_locf(
        ev,
        series_col="event_type",
        ts_sec_col="ts_sec",
        order_cols=("ts_us", "event_id"),
        value_col="value",
        step=3600,
    )


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop star join (orders ⋈ customer ⋈ nation ⋈ region): revenue
    rollup per region — the two dim hops broadcast, one keyed shuffle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


def order_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: the 10 highest-revenue orders
    from BUILDING-segment customers placed before the cutoff whose
    lineitems ship after it (revenue still in flight at the date).

    Plan shape: customer is a broadcast semi-side (segment filter cuts
    it ~5×), orders filters on date BEFORE the join, lineitem's date
    filter pushes to the scan, revenue is the decimal-exact
    ``pricing_summary`` recipe, and the global top-10 lowers to
    TakeOrderedAndProject (no single-partition sort)."""
    cutoff = "1998-07-01"
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = _utc(spark).read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .join(
            orders.filter(
                F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
            ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(
                    F.col("c_mktsegment") == "BUILDING"
                ).select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def nation_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: 1997 revenue per nation
    where the ordering CUSTOMER and the line's SUPPLIER sit in the SAME
    nation — the classic 6-way star join with a cross-dimension
    equality (the constraint that forces the optimizer to carry both
    nationkeys to the fact row instead of pruning either dim).

    All four dimension sides broadcast; the only shuffles are the
    orders⋈lineitem fact join and the final ≤|nations| aggregate.
    Decimal-exact revenue, double at the edge."""
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = _utc(spark).read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(
            orders.filter(F.year("o_orderdate") == 1997).select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def part_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate join: revenue from
    lineitems matching EITHER of two (brand, size-range, qty-range)
    promo arms — the OR-of-ANDs shape that exercises predicate handling
    across a join (each conjunct mixes part and lineitem columns, so
    neither side can be pre-filtered to one arm alone; only the
    per-side disjunction envelope pushes down).  One broadcast join,
    one scalar aggregate; decimal-exact revenue, double at the edge."""
    li = _utc(spark).read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 25)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(arm1 | arm2)
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join/EXCEPT: customers with no 1998 order.  (Restricted to one
    year so the result is non-trivial — the testdata has every customer
    ordering at least once overall.)"""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.year("o_orderdate") == 1998
    )
    return customer.select("c_custkey").subtract(
        orders.select(F.col("o_custkey").alias("c_custkey"))
    )


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition mining over the event stream: for
    every (prev_type, next_type) pair of CONSECUTIVE events of the same
    user (ordered by ts, event_id), the transition count and the
    conditional probability P(next | prev) — the behavioral model
    product analytics builds next-action prediction and anomaly
    baselines from.

    Determinism: the successor relation is a pure function of the
    (ts, event_id) total order per user; counts are integers and the
    probability is ONE exactly-rounded double division, so the twin
    hash-compares bit-exact.

    Scale shape (100 TB): one keyed range shuffle on user_id for the
    lead() window — a STREAMING frame (no per-group buffer, unlike a
    collect_list), then two narrow map-side-combinable aggregations
    whose keyspace is |event_type|² (tiny).  The event payload never
    rides past the first projection."""
    from pyspark.sql.window import Window

    # dual-encoding read (nanos-as-long or micros timestamp); ordering by
    # the RAW ts column keeps full stored precision either way, exactly
    # matching the twin's ORDER BY ts
    ev = _events_with_ts_sec(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"), "next_type"
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n_pairs").alias("_n_from")
    )
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_pairs",
            (
                F.col("n_pairs").cast("double")
                / F.col("_n_from").cast("double")
            ).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic histogram: per-user event counts bucketed by
    integer log2 (bucket = floor(log2(n)) via binary-string length, no
    float anywhere) — the profile you read BEFORE choosing a partition
    strategy at 100 TB: a fat tail in the top buckets says the keyed
    shuffles behind sessions/windows need salting or the two-level
    folds this repo uses.

    Output: (bucket, bucket_lo, n_users, min_events, max_events,
    total_events) — bucket_lo = 2^bucket, ≤ 64 rows total.

    Scale shape: one (user_id) count with map-side combine, then a
    second aggregation onto the ≤64-row bucket keyspace; both narrow,
    nothing wide ever materializes."""
    ev = _events_with_ts_sec(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bucket = (F.length(F.bin(F.col("n_events"))) - 1).cast("int")
    return (
        per_user.select(bucket.alias("bucket"), "n_events")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("n_events").alias("min_events"),
            F.max("n_events").alias("max_events"),
            F.sum("n_events").alias("total_events"),
        )
        .select(
            "bucket",
            # 2^bucket: powers of two are exactly representable doubles
            # for every bucket ≤ 62, so pow→cast is integer-exact and
            # portable (no column-shift shiftleft in either engine's
            # portable subset)
            F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias(
                "bucket_lo"
            ),
            "n_users",
            "min_events",
            "max_events",
            "total_events",
        )
        .orderBy("bucket")
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over orders: parts that co-occur in the
    same order, with support and lift — the association-rule primer
    (frequent itemsets at k=2) run on the TPC-H side of the testdata.

    lift(a,b) = P(a,b) / (P(a)·P(b)) = (n_both·n_orders)/(n_a·n_b),
    computed as (double·double)/(double·double) with fixed
    association — every factor is an exact integer-valued double and
    mul/div are correctly rounded in both engines, so the twin
    hash-compares bit-exact.  support = one exact division.

    Scale shape (100 TB): the pair generator is a SELF-JOIN keyed on
    l_orderkey, so its cost is Σ C(basket_size, 2) — bounded by the
    per-order line cap (7 in TPC-H), never all-pairs over parts; pair
    counts aggregate with map-side combine onto the co-occurring-pair
    keyspace.  Per-part order counts join back by part key (two narrow
    keyed shuffles — the counts side is dimension-sized, left to AQE).
    The scalar n_orders aggregate broadcasts one row."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    part_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_ord")
    )
    n_orders = items.select(
        F.count_distinct("l_orderkey").alias("_n_orders")
    )
    a = items.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "_ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ca = part_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("n_part_a")
    )
    cb = part_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("n_part_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_part_a",
            "n_part_b",
            (
                F.col("n_both").cast("double")
                / F.col("_n_orders").cast("double")
            ).alias("support"),
            (
                (
                    F.col("n_both").cast("double")
                    * F.col("_n_orders").cast("double")
                )
                / (
                    F.col("n_part_a").cast("double")
                    * F.col("n_part_b").cast("double")
                )
            ).alias("lift"),
        )
        .orderBy("part_a", "part_b")
    )


def _bitmap_word_cols(user_col: str = "user_id") -> tuple[F.Column, F.Column]:
    """(word, bit) columns for the 62-bit user-bitmap fold shared by
    events_audience_overlap and events_active_users.  62 bits per word
    keeps the shifted literal exact in engines whose ``1 << 63``
    overflows (DuckDB raises; Java wraps) — the invariant lives HERE so
    both bitmap queries stay word-aligned with each other."""
    word = F.expr(f"{user_col} DIV 62").alias("_word")
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({user_col} % 62 AS INT))"
    ).alias("_bit")
    return word, bit


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every type pair, the
    EXACT count of users who triggered both, plus each side's exact
    audience size and the audience Jaccard — the cohort/segment overlap
    matrix every growth dashboard carries.

    Computed the roaring-bitmap way, not by a distinct-pair self-join:
    each type's user set becomes 62-bit bitmap words (word = user_id
    div 62, one bit_or aggregate — duplicate events are absorbed by OR,
    no DISTINCT pass), and the pair intersection is a word-aligned
    equi-join summing bit_count(a & b).

    Scale shape (100 TB): the per-type bitmap is ≤ |user-id range|/62
    rows regardless of event volume (the raw stream collapses map-side
    into the OR), and the pair join shuffles bitmap words — never
    (user, type) rows — so intersection cost is bound by the id space,
    not the event count.  62 bits per word keeps the shifted literal
    exact in engines whose 1<<63 overflows.

    Output: (type_a, type_b, n_a, n_b, n_both, jaccard) for pairs with
    n_both > 0, type_a < type_b; jaccard is one exactly-rounded
    int/int division."""
    ev = _events_with_ts_sec(spark, sf_dir)
    word, bit = _bitmap_word_cols()
    words = (
        ev.select("event_type", word, bit)
        .groupBy("event_type", "_word")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    totals = words.groupBy("event_type").agg(
        F.sum(F.bit_count("_bits")).alias("_n")
    )
    a = words.select(
        F.col("event_type").alias("type_a"),
        "_word",
        F.col("_bits").alias("_ba"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"),
        "_word",
        F.col("_bits").alias("_bb"),
    )
    inter = (
        a.join(b, "_word")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("_ba").bitwiseAND(F.col("_bb")))).alias(
                "n_both"
            )
        )
        .filter(F.col("n_both") > 0)
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("_n").alias("n_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("_n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def lineitem_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form OLS (price-vs-quantity) per return flag — the
    sufficient-statistics regression a scan-once pipeline trains
    distributed: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with every
    sum and cross-product kept in EXACT integer arithmetic
    (DECIMAL(38,0) — quantities are integral, prices become cents), so
    the only floats are the final correctly-rounded int→double
    conversions plus one fixed IEEE expression per coefficient,
    identical in any engine.

    Scale shape (100 TB): ONE aggregation pass with map-side partials
    over a 3-key groupBy — the textbook "ML on sufficient statistics"
    plan; nothing wide, nothing iterative, no collect."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = "decimal(38,0)"
    qty = F.col("l_quantity").cast("decimal(18,2)").cast(big)
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(big)
    s = (
        li.select(
            "l_returnflag", qty.alias("_x"), cents.alias("_y")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum((F.col("_x") * F.col("_x")).cast(big)).alias("_sxx"),
            F.sum((F.col("_x") * F.col("_y")).cast(big)).alias("_sxy"),
        )
    )
    n_dec = F.col("n").cast(big)
    num = (n_dec * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(big)
    den = (n_dec * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(big)
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.col("_sx").cast("double").alias("sum_qty"),
        F.col("_sy").cast("double").alias("sum_cents"),
        num.cast("double").alias("slope_num"),
        den.cast("double").alias("slope_den"),
        slope.alias("slope_cents_per_unit"),
        intercept.alias("intercept_cents"),
    ).orderBy("l_returnflag")


# the five event types are a closed vocabulary in this schema; pivots
# MUST be given their column set up front — Spark's values-less
# .pivot() silently runs a blocking collect-distinct job first, which
# at 100 TB is a full extra scan before the plan even builds
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour × event-type crosstab (the pivot/wide-matrix operator):
    one row per hour, one exact count column per type plus the row
    total — the dashboard-matrix shape BI layers ask of an engine.

    Scale shape: a pivot with EXPLICIT values is exactly one groupBy
    with |values| conditional aggregates — map-side combinable, no
    second pass, no collect; the type vocabulary is pinned
    (EVENT_TYPES) so the plan never runs Spark's implicit
    distinct-values job."""
    ev = _events_with_ts_sec(spark, sf_dir)
    hour_sec = (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("hour_sec")
    out = (
        ev.groupBy(hour_sec)
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    total = None
    for t in EVENT_TYPES:
        c = F.coalesce(F.col(t), F.lit(0))
        total = c if total is None else total + c
    return out.select(
        "hour_sec", *cols, total.alias("n_total")
    ).orderBy("hour_sec")


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    EQUALLY across the same user's clicks in the trailing hour (the
    batch twin of the streaming attribution monitor's problem, but
    multi-touch instead of last-touch).  Emitted at PAIR grain —
    (click, purchase, n_touches, share_cents) — so no float is ever
    summed; the share is one exactly-rounded cents/int division.
    Purchases with no trailing click are absent (an outer arm would
    just restate events_asof).

    Scale shape: the pair stream comes from the bucketized range join
    (operators/temporal.py range_join — equi-join on (user, time
    bucket), candidates bounded by window width × per-bucket density),
    and the per-purchase touch count is one narrow window over the
    pair stream keyed by purchase."""
    from pyspark.sql.window import Window
    from ..operators import temporal

    ev = _events_with_ts_us(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts_us",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("value_cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts_us"
    )
    pairs = temporal.range_join(
        p,
        c,
        by="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        lower=-3_600_000_000,
        upper=0,
    )
    w = Window.partitionBy("purchase_id")
    return (
        pairs.withColumn("n_touches", F.count(F.lit(1)).over(w))
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            "n_touches",
            (
                F.col("value_cents").cast("double")
                / F.col("n_touches").cast("double")
            ).alias("share_cents"),
        )
        .orderBy("purchase_id", "click_id")
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users with EXACT sliding-window distinct
    counts (DAU, trailing-7-day WAU, DAU/WAU stickiness) — the
    engagement trio, computed without approx_count_distinct and
    without a distinct-pair blowup.

    The trick is the same 62-bit bitmap fold as events_audience_overlap
    made SLIDING: per (day, word = user_id div 62) one bit_or collapses
    the raw stream map-side; each bitmap row then explodes to the ≤7
    target days whose trailing week it belongs to (bounded 7× growth of
    the tiny bitmap table, NOT of the event stream), and one
    (target_day, word) bit_or + popcount gives the exact distinct
    count per window.  DAU rides the same pass as the OR of offset-0
    contributions only.  A day with no event in its trailing week
    drops out (nothing to count).

    Scale shape (100 TB): event stream → per-(day, word) bitmaps is one
    map-side-combinable aggregation; everything after is arithmetic on
    |days| × |user-space|/62 rows.  The max-day bound is a broadcast
    scalar."""
    ev = _events_with_ts_sec(spark, sf_dir)
    word, bit = _bitmap_word_cols()
    base = (
        ev.select(F.expr("ts_sec DIV 86400").alias("_day"), word, bit)
        .groupBy("_day", "_word")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    bounds = base.agg(F.max("_day").alias("_max_day"))
    contrib = (
        base.withColumn("_off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn("day", F.col("_day") + F.col("_off"))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("_max_day"))
    )
    words = contrib.groupBy("day", "_word").agg(
        F.bit_or("_bits").alias("_wbits"),
        F.bit_or(F.when(F.col("_off") == 0, F.col("_bits"))).alias("_dbits"),
    )
    return (
        words.groupBy("day")
        .agg(
            F.sum(
                F.coalesce(F.bit_count("_dbits"), F.lit(0)).cast("long")
            ).alias("dau"),
            F.sum(F.bit_count("_wbits").cast("long")).alias("wau"),
        )
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


def events_value_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type APPROXIMATE value quantiles with O(k) state per group
    instead of an exact per-type sort: exact interpolated
    p50/p90/p99 of a fixed 512-row deterministic uniform sample per
    event type (min-512 by the LCG hash of event_id — an associative,
    idempotent, MERGEABLE fold, so partial aggregation bounds shuffle
    and state at k rows per group no matter how hot the group).

    Deterministic end to end (hash cut + percentile ≡ quantile_cont),
    so the DuckDB twin gates it bit-exact — unlike approx_percentile,
    whose estimate is neither portable nor stable."""
    from ..operators.topk import grouped_quantile_sketch

    ev = _events_with_ts_sec(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return grouped_quantile_sketch(
        ev.select("event_type", "event_id", cents.alias("_c")),
        ["event_type"],
        "_c",
        "event_id",
        {"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99},
        k=512,
    ).orderBy("event_type")


def events_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured drift report over the events JSON ``props``
    column: per (event_type, json key) — presence, value count, exact
    distinct strings, numeric parse count, numeric min/max
    (``jsonops.json_key_profile``).  Row-local JVM JSON parsing
    (json_object_keys + get_json_object inside codegen, no Python),
    one ≤ types×keys aggregate — the profile an ingest pipeline diffs
    between loads to catch producer-side schema drift."""
    from ..operators.jsonops import json_key_profile

    ev = _events_with_ts_sec(spark, sf_dir)
    return json_key_profile(
        ev.select("event_type", "props"), "props", ["event_type"]
    ).orderBy("event_type", "json_key")


def events_reach_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-USER cardinality estimate ("reach") with O(k)
    state — KMV order statistics over the LCG-hashed user ids
    (``topk.grouped_reach_sketch``; ``corpus.distinct_sketch``'s
    estimator pointed at entity ids).  The 100-TB path next to an exact
    count_distinct, and the batch twin of the streaming reach monitor:
    two sketches merge by re-cutting the union, so per-partition,
    per-day, or per-micro-batch partials compose exactly.

    Deterministic (hash order + one exactly-rounded division), so the
    DuckDB twin gates the ESTIMATE bit-for-bit — unlike
    approx_count_distinct's engine-private HLL registers."""
    from ..operators.topk import grouped_reach_sketch

    ev = _events_with_ts_sec(spark, sf_dir)
    return grouped_reach_sketch(
        ev.select("event_type", "user_id"), ["event_type"], "user_id", k=64
    ).orderBy("event_type")


def nation_top_customer_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): per nation, its top-3
    customers by exact revenue cents as one comma-joined string in
    rank order — the report-ready denormalized rollup.  Deterministic:
    rank ties break on custkey, and the string is built from an
    array_sort'd struct collect (sort key = (rank,), exact) — the
    pinned-order fold convention applied to strings.  Top-3 per nation
    via the sharded two-level rank keeps hub nations out of single-task
    sorts."""
    from ..operators.topk import top_k_per_group

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (
        orders.join(
            F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"]
        )
        .join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    ranked = top_k_per_group(
        rev,
        group_cols=["n_name"],
        order_by=[F.desc("rev_cents"), F.asc("c_custkey")],
        k=3,
        rank_col="_rank",
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.sum("rev_cents").alias("top_rev_cents"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_rank", "c_name"))
                    ),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top_customers"),
        )
        .orderBy("n_name")
    )


def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / episode-collapse: consecutive events of the same
    (user, type) separated by ≤ 5 s merge into one EPISODE row carrying
    the first event's id/time, the burst size, and the episode span —
    the double-click / retry-storm / sensor-chatter cleaner that runs
    before any per-event rate metric.

    Same lag + running-sum construction as sessionization (gap > 5 s
    starts a new episode), so it inherits its exactness and its scale
    shape: one hash shuffle on (user, type), one sorted pass per
    partition, integer microseconds end-to-end."""
    from pyspark.sql.window import Window

    ev = _events_with_ts_us(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gap_us = 5_000_000
    flagged = ev.withColumn("_prev", F.lag("ts_us").over(w)).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull()
            | (F.col("ts_us") - F.col("_prev") > gap_us),
            1,
        ).otherwise(0),
    )
    episodes = flagged.withColumn(
        "_ep",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        episodes.groupBy(
            "user_id", "event_type", F.col("_ep").cast("int").alias("episode")
        )
        .agg(
            F.min(F.struct("ts_us", "event_id"))
            .getField("event_id")
            .alias("first_event_id"),
            F.count(F.lit(1)).alias("n_collapsed"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
        .orderBy("user_id", "event_type", "episode")
    )


def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / automation detection by inter-arrival REGULARITY: per user,
    the exact squared coefficient of variation of consecutive event
    gaps — scripted traffic fires on a timer (cv² ≈ 0) while human
    activity is bursty (cv² ≳ 1) — the abuse screen run before user
    events are trusted as engagement signal or training data.

    Exactness: gaps are integer microseconds (lag over the per-user
    sequence); n and Σg are exact BIGINT, and the second moment runs in
    DECIMAL(38,0) — a squared multi-hour gap overflows int64, while
    128-bit decimal holds n·Σg² and (Σg)² exactly for any plausible
    history (Σg² ≤ 1e26, products ≤ 1e32 « 1e38).  cv² =
    (n·Σg² − (Σg)²) / (Σg)² is then ONE pair of exactly-rounded
    decimal→double conversions and one division, and the bot flag
    compares the decimals directly (100·(n·Σg² − S²) < S², i.e.
    cv² < 0.01 — no float in the decision).  Only users with ≥ 5 gaps
    are judged (flag NULL below).

    Scale shape: one (user_id) hash shuffle + sorted pass for the lag,
    one combinable groupBy — the sessionization/debounce discipline."""
    from pyspark.sql.window import Window

    ev = _events_with_ts_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.withColumn("_prev", F.lag("ts_us").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "user_id", (F.col("ts_us") - F.col("_prev")).alias("_gap")
        )
    )
    gd = F.col("_gap").cast("decimal(19,0)")
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("_gap").cast("long").alias("sum_gap"),
        F.sum((gd * gd).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("_gsq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (dec(F.col("n_gaps")) * F.col("_gsq")).cast(
        "decimal(38,0)"
    ) - (dec(F.col("sum_gap")) * dec(F.col("sum_gap"))).cast("decimal(38,0)")
    s2 = (dec(F.col("sum_gap")) * dec(F.col("sum_gap"))).cast("decimal(38,0)")
    return (
        stats.select(
            "user_id",
            "n_gaps",
            "sum_gap",
            (num.cast("double") / s2.cast("double")).alias("cv2"),
            F.when(
                F.col("n_gaps") >= 5,
                (F.lit(100).cast("decimal(38,0)") * num).cast(
                    "decimal(38,0)"
                )
                < s2,
            ).alias("is_bot_like"),
        )
        .orderBy("user_id")
    )
