"""DuckDB oracle SQL for the driver's correctness gate.

For every query exposed in ``__spark_entry__.queries()`` this module emits an
independent ANSI-SQL implementation runnable by DuckDB over the same parquet
tables.  Dimension data is inlined as VALUES CTEs generated from the JSON
seeds, and the `transactions` fact table is derived with the exact modulo
arithmetic of plans/derived.py.

Cross-engine determinism rules used throughout (see SURVEY §6 notes):
- money never flows through floating point: CAST the 2dp-exact DOUBLEs to
  DECIMAL(18,2) first, aggregate exactly, cast to DOUBLE only at the end
  (both engines then produce the identical nearest-double);
- ratios are computed as DOUBLE/DOUBLE division of identical inputs
  (IEEE-deterministic in both engines);
- no floats are ever formatted into strings in oracle-compared columns;
- every ORDER BY ... LIMIT carries a unique tiebreak key.
"""

from __future__ import annotations

from . import derived
from ..dims import seed_rows

# ---------------------------------------------------------------------------
# VALUES-CTE helpers
# ---------------------------------------------------------------------------


def _q(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _values(rows: list[tuple]) -> str:
    return ",\n    ".join("(" + ", ".join(_q(v) for v in r) + ")" for r in rows)


def dim_ctes() -> str:
    """All dimension tables as typed VALUES CTEs (from the JSON seeds)."""
    sr = [
        (
            r["state_code"],
            r["state_name"],
            str(r["base_rate"]),
            r["has_local_taxes"],
            str(r["avg_combined_rate"]),
        )
        for r in seed_rows("state_rates")
    ]
    lr = [
        (r["state_code"], r["jurisdiction"].lower(), str(r["rate"]))
        for r in seed_rows("local_rates")
    ]
    ex = [(r["state_code"], r["category"]) for r in seed_rows("state_exemptions")]
    ca = [(r["alias"], r["category"]) for r in seed_rows("category_aliases")]
    nt = [
        (
            r["state_code"],
            str(r["revenue_threshold"]),
            r["transaction_threshold"],
            r["measurement_period"],
        )
        for r in seed_rows("nexus_thresholds")
    ]
    sol = [(r["state_code"], r["years"]) for r in seed_rows("sol_years")]
    dd = [(r["state_code"], r["due_day"]) for r in seed_rows("filing_due_day")]

    return f"""
state_rates_raw(state_code, state_name, base_rate_s, has_local_taxes, avg_combined_rate_s) AS (VALUES
    {_values(sr)}),
state_rates AS (
  SELECT state_code, state_name,
         CAST(base_rate_s AS DECIMAL(11,6)) AS base_rate,
         has_local_taxes,
         CAST(avg_combined_rate_s AS DECIMAL(11,6)) AS avg_combined_rate
  FROM state_rates_raw),
local_rates_raw(state_code, jurisdiction_lc, rate_s) AS (VALUES
    {_values(lr)}),
local_rates AS (
  SELECT state_code, jurisdiction_lc, CAST(rate_s AS DECIMAL(11,6)) AS rate
  FROM local_rates_raw),
state_exemptions(state_code, category) AS (VALUES
    {_values(ex)}),
category_aliases(alias, category) AS (VALUES
    {_values(ca)}),
nexus_thresholds_raw(state_code, revenue_threshold_s, transaction_threshold, measurement_period) AS (VALUES
    {_values(nt)}),
nexus_thresholds AS (
  SELECT state_code, CAST(revenue_threshold_s AS DECIMAL(18,2)) AS revenue_threshold,
         CAST(transaction_threshold AS INTEGER) AS transaction_threshold,
         measurement_period
  FROM nexus_thresholds_raw),
sol_years(state_code, years) AS (VALUES
    {_values(sol)}),
filing_due_day(state_code, due_day) AS (VALUES
    {_values(dd)})"""


def transactions_cte(inclusive_mod: int | None = None) -> str:
    """SQL twin of derived.derive_transactions.

    ``inclusive_mod`` flips pricing_model to 'inclusive' for order keys
    divisible by it (the tax-inclusive query variant); None keeps the
    all-'exclusive' base derivation."""
    st = list(enumerate(derived.state_list()))
    cats = [
        (i, c) for i, c in enumerate(derived.category_list()) if c is not None
    ]
    cities = derived.city_map()
    paid_case = " ".join(
        f"WHEN {i} THEN CAST({m} AS DECIMAL(6,4))"
        for i, m in enumerate(derived.PAID_MULTIPLIERS)
    )
    pricing = (
        "'exclusive'"
        if inclusive_mod is None
        else f"CASE WHEN o_orderkey % {inclusive_mod} = 0 "
        "THEN 'inclusive' ELSE 'exclusive' END"
    )
    return f"""
statemap(sidx, state) AS (VALUES
    {_values(st)}),
catmap(cidx, item_category) AS (VALUES
    {_values(cats)}),
citymap(cm_state, cm_idx, city) AS (VALUES
    {_values(cities)}),
transactions_derived AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS transaction_id,
    CAST(o_orderdate AS DATE) AS transaction_date,
    CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
    s.state,
    cm.city,
    c.item_category,
    CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
               * (CASE o_orderkey % 5 {paid_case} END), 2) AS DECIMAL(18,2)) AS tax_paid,
    CASE WHEN o_orderkey % 23 = 0
         THEN 'CERT-' || CAST(o_orderkey AS VARCHAR) END AS exemption_certificate,
    CASE o_custkey % 19 WHEN 0 THEN 'wholesale' WHEN 1 THEN 'exempt'
         ELSE 'retail' END AS customer_type,
    {pricing} AS pricing_model
  FROM orders
  JOIN statemap s ON s.sidx = o_custkey % 53
  LEFT JOIN catmap c ON c.cidx = o_orderkey % 8
  LEFT JOIN citymap cm ON cm.cm_state = s.state AND cm.cm_idx = o_orderkey % 4
)"""


def tax_calc_ctes(inclusive_mod: int | None = None) -> str:
    """Enrichment + master CASE tree: the SQL twin of operators/tax.py
    (reference semantics calculator.py:157-256).

    The tax-inclusive back-out (calculator.py:229-232, F2) divides the
    gross amount by (1 + combined rate) and HALF_UP-rounds to cents.
    Spark does that in exact decimal; DuckDB's decimal division promotes
    to DOUBLE (lossy — exact half-cent quotients like UT's 1.072 = 134/125
    denominator DO occur and a double quotient can land a hair under), so
    the twin uses exact BIGINT arithmetic instead: with A = amount in
    cents and R = (1 + rate) × 10⁶, HALF_UP cents = (2·A·10⁶ + R) // (2·R).
    This is bit-identical to Spark's round-at-scale-15-then-round-at-2
    decimal path: a rational with denominator ≤ ~2.3e6 cannot lie within
    1e-15 of a half-cent boundary without being exactly on it, so the
    double-rounding window is empty.  With the default all-'exclusive'
    derivation the back-out CASE never fires and taxable_computed =
    amount exactly."""
    return f"""{dim_ctes()},
{transactions_cte(inclusive_mod).lstrip()},
tax_enriched AS (
  SELECT t.*,
    sr.state_name, sr.base_rate, sr.has_local_taxes, sr.avg_combined_rate,
    (sr.state_name IS NULL) AS unknown_state,
    (sr.base_rate = 0 AND NOT sr.has_local_taxes) AS no_tax_state,
    (t.customer_type IN ('wholesale', 'exempt')) AS exempt_customer,
    (t.exemption_certificate IS NOT NULL) AS exempt_cert,
    (ex.category IS NOT NULL) AS exempt_category,
    ca.category AS mapped_category,
    lr.rate AS city_local_rate
  FROM transactions_derived t
  LEFT JOIN state_rates sr ON t.state = sr.state_code
  LEFT JOIN category_aliases ca ON lower(trim(t.item_category)) = ca.alias
  LEFT JOIN state_exemptions ex
         ON ex.state_code = t.state AND ex.category = ca.category
  LEFT JOIN local_rates lr
         ON lr.state_code = t.state AND lr.jurisdiction_lc = lower(t.city)
),
tax_rates AS (
  SELECT *,
    (no_tax_state OR exempt_customer OR exempt_cert OR exempt_category) AS exempt_like,
    CASE WHEN city_local_rate IS NOT NULL THEN city_local_rate
         -- NB: duckdb's greatest() promotes DECIMAL to DOUBLE; use CASE to
         -- keep the max(avg-base, 0) floor in exact decimal arithmetic
         WHEN has_local_taxes AND avg_combined_rate - base_rate > 0
           THEN CAST(avg_combined_rate - base_rate AS DECIMAL(11,6))
         ELSE CAST(0 AS DECIMAL(11,6)) END AS local_rate
  FROM tax_enriched
),
tax_taxable AS (
  SELECT *,
    CASE WHEN pricing_model = 'inclusive'
         THEN CAST(
                (2 * CAST(amount * 100 AS BIGINT) * 1000000
                 + CAST((1 + base_rate + local_rate) * 1000000 AS BIGINT))
                // (2 * CAST((1 + base_rate + local_rate) * 1000000 AS BIGINT))
              AS DECIMAL(18,0)) * CAST(0.01 AS DECIMAL(3,2))
         ELSE amount END AS taxable_computed
  FROM tax_rates
),
tax_results AS (
  SELECT
    transaction_id, transaction_date, state, city, item_category, customer_type,
    pricing_model, amount, tax_paid,
    CASE WHEN unknown_state OR exempt_like THEN amount
         ELSE CAST(taxable_computed AS DECIMAL(18,2)) END AS taxable_amount,
    CASE WHEN unknown_state OR exempt_like THEN CAST(0 AS DECIMAL(18,2))
         ELSE CAST(ROUND(taxable_computed * base_rate, 2) AS DECIMAL(18,2)) END AS state_tax,
    CASE WHEN unknown_state OR exempt_like THEN CAST(0 AS DECIMAL(18,2))
         ELSE CAST(ROUND(taxable_computed * local_rate, 2) AS DECIMAL(18,2)) END AS local_tax,
    CASE WHEN unknown_state OR exempt_like THEN 0.0
         ELSE CAST(base_rate + local_rate AS DOUBLE) END AS effective_rate,
    CASE WHEN unknown_state THEN FALSE ELSE exempt_like END AS is_exempt,
    CASE WHEN unknown_state THEN ''
         WHEN no_tax_state THEN state_name || ' has no sales tax'
         WHEN exempt_customer THEN 'Customer type: ' || customer_type
         WHEN exempt_cert THEN 'Exemption cert: ' || exemption_certificate
         WHEN exempt_category THEN state || ' exempts ' || mapped_category
         ELSE '' END AS exemption_reason,
    CASE WHEN unknown_state THEN 1
         WHEN exempt_like THEN 0
         WHEN city IS NULL AND has_local_taxes THEN 1
         ELSE 0 END AS n_warnings,
    unknown_state, no_tax_state, exempt_like, has_local_taxes
  FROM tax_taxable
),
tax_final AS (
  SELECT *, CAST(state_tax + local_tax AS DECIMAL(18,2)) AS tax_amount
  FROM tax_results
)"""


# ---------------------------------------------------------------------------
# Per-query oracle SQL
# ---------------------------------------------------------------------------


def tax_calc_sql() -> str:
    return f"""WITH {tax_calc_ctes().lstrip()}
SELECT transaction_id, transaction_date, state, city, item_category,
       CAST(amount AS DOUBLE) AS amount,
       CAST(taxable_amount AS DOUBLE) AS taxable_amount,
       CAST(state_tax AS DOUBLE) AS state_tax,
       CAST(local_tax AS DOUBLE) AS local_tax,
       CAST(tax_amount AS DOUBLE) AS tax_amount,
       effective_rate, is_exempt, exemption_reason,
       CAST(n_warnings AS INTEGER) AS n_warnings
FROM tax_final"""


def tax_calc_inclusive_sql(inclusive_mod: int = 2) -> str:
    """F2 tax-inclusive back-out under the full hash gate: every other
    order key is priced 'inclusive'.  All money emitted as integer cents
    (exact decimal × 100 → BIGINT) so no float formatting enters the
    compared values."""
    return f"""WITH {tax_calc_ctes(inclusive_mod).lstrip()}
SELECT transaction_id, state, pricing_model,
       CAST(amount * 100 AS BIGINT) AS amount_cents,
       CAST(taxable_amount * 100 AS BIGINT) AS taxable_cents,
       CAST(state_tax * 100 AS BIGINT) AS state_tax_cents,
       CAST(local_tax * 100 AS BIGINT) AS local_tax_cents,
       CAST(tax_amount * 100 AS BIGINT) AS tax_cents,
       is_exempt
FROM tax_final"""


def use_tax_sql() -> str:
    return f"""WITH {tax_calc_ctes().lstrip()}
SELECT transaction_id, state,
       CAST(tax_amount AS DOUBLE) AS tax_amount,
       CAST(tax_paid AS DOUBLE) AS tax_paid,
       CAST(least(tax_paid, tax_amount) AS DOUBLE) AS credit_applied,
       CAST(ROUND(tax_amount - least(tax_paid, tax_amount), 2) AS DOUBLE)
         AS net_use_tax
FROM tax_final"""


def tax_state_summary_sql() -> str:
    return f"""WITH {tax_calc_ctes().lstrip()}
SELECT state,
       count(*) AS transaction_count,
       CAST(SUM(taxable_amount) AS DOUBLE) AS total_taxable,
       CAST(SUM(tax_amount) AS DOUBLE) AS total_tax,
       CAST(SUM(CASE WHEN is_exempt THEN taxable_amount
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS exempt_amount,
       CASE WHEN SUM(taxable_amount) > 0
            THEN CAST(SUM(tax_amount) AS DOUBLE) / CAST(SUM(taxable_amount) AS DOUBLE)
            ELSE 0.0 END AS effective_rate
FROM tax_final
GROUP BY state"""


def tax_batch_totals_sql() -> str:
    return f"""WITH {tax_calc_ctes().lstrip()}
SELECT count(*) AS transaction_count,
       CAST(SUM(taxable_amount) AS DOUBLE) AS total_taxable,
       CAST(SUM(tax_amount) AS DOUBLE) AS total_tax,
       CAST(SUM(CASE WHEN is_exempt THEN taxable_amount
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_exempt,
       CAST(SUM(CASE WHEN is_exempt THEN 1 ELSE 0 END) AS INTEGER) AS exempt_count
FROM tax_final"""


def _refund_ctes() -> str:
    """Overpayment records CTE (refund_analyzer.py:134-189 twin).

    SOL cutoffs are precomputed per sol-years value (as_of is fixed), and
    sol_date uses fixed-interval arithmetic per branch — both engines clamp
    month-end identically."""
    as_of = derived.AS_OF
    cutoffs = {
        y: as_of.replace(year=as_of.year - y) for y in (3, 4)
    }
    return f"""{tax_calc_ctes().lstrip()},
refund_base AS (
  SELECT f.*,
    COALESCE(s.years, 3) AS sol_yrs,
    CAST(ROUND(tax_paid - tax_amount, 2) AS DECIMAL(18,2)) AS overpayment
  FROM tax_final f
  LEFT JOIN sol_years s ON s.state_code = f.state
),
refund_records AS (
  SELECT transaction_id, transaction_date, state, city,
    amount AS sale_amount, tax_paid, tax_amount AS tax_owed, overpayment,
    CASE WHEN is_exempt THEN 'Exempt transaction taxed'
         WHEN tax_paid > tax_amount AND tax_amount > 0 THEN 'Rate mismatch'
         WHEN tax_paid > tax_amount THEN 'Tax collected in no-tax jurisdiction'
         ELSE 'Overpayment detected' END AS reason_prefix,
    (transaction_date >= CASE sol_yrs
        WHEN 4 THEN DATE '{cutoffs[4].isoformat()}'
        ELSE DATE '{cutoffs[3].isoformat()}' END) AS refund_eligible,
    CASE sol_yrs
        WHEN 4 THEN transaction_date + INTERVAL 48 MONTH
        ELSE transaction_date + INTERVAL 36 MONTH
    END AS sol_ts,
    sol_yrs
  FROM refund_base
  WHERE overpayment > 0
)"""


def refund_records_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT transaction_id, transaction_date, state, city,
       CAST(sale_amount AS DOUBLE) AS sale_amount,
       CAST(tax_paid AS DOUBLE) AS tax_paid,
       CAST(tax_owed AS DOUBLE) AS tax_owed,
       CAST(overpayment AS DOUBLE) AS overpayment,
       reason_prefix, refund_eligible,
       CAST(sol_ts AS DATE) AS statute_of_limitations_date
FROM refund_records"""


def refund_quick_scan_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT transaction_id, state,
       CAST(overpayment AS DOUBLE) AS overpayment, reason_prefix
FROM refund_records
WHERE overpayment >= CAST(1.00 AS DECIMAL(18,2))"""


def refund_state_breakdown_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT state, CAST(SUM(overpayment) AS DOUBLE) AS amount
FROM refund_records GROUP BY state"""


def refund_reason_breakdown_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT reason_prefix AS reason, CAST(SUM(overpayment) AS DOUBLE) AS amount
FROM refund_records GROUP BY reason_prefix"""


def refund_breakdowns_sql() -> str:
    """Twin of queries.refund_breakdowns: state + reason + quick-scan
    aggregate arms over one records CTE, marker-tagged."""
    return f"""WITH {_refund_ctes().lstrip()}
SELECT 'state' AS dim, state AS key, count(*) AS n_records,
       CAST(SUM(overpayment) AS DOUBLE) AS amount
FROM refund_records GROUP BY state
UNION ALL
SELECT 'reason' AS dim, reason_prefix AS key, count(*) AS n_records,
       CAST(SUM(overpayment) AS DOUBLE) AS amount
FROM refund_records GROUP BY reason_prefix
UNION ALL
SELECT 'scan' AS dim, state AS key, count(*) AS n_records,
       CAST(SUM(overpayment) AS DOUBLE) AS amount
FROM refund_records
WHERE overpayment >= CAST(1.00 AS DECIMAL(18,2))
GROUP BY state"""


def refund_summary_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT count(*) AS overpayment_count,
       CAST(SUM(overpayment) AS DOUBLE) AS total_overpayment,
       MIN(CASE WHEN refund_eligible THEN transaction_date END) AS oldest_eligible,
       MAX(CASE WHEN refund_eligible THEN transaction_date END) AS newest_eligible,
       CAST(ROUND(SUM(CASE WHEN refund_eligible THEN overpayment
                      ELSE CAST(0 AS DECIMAL(18,2)) END)
                  * CAST(0.85 AS DECIMAL(3,2)), 2) AS DOUBLE) AS estimated_recovery
FROM refund_records"""


def refund_claims_sql() -> str:
    return f"""WITH {_refund_ctes().lstrip()}
SELECT state AS state_code,
       MIN(transaction_date) AS claim_period_start,
       MAX(transaction_date) AS claim_period_end,
       CAST(SUM(overpayment) AS DOUBLE) AS total_refund_requested,
       count(*) AS transaction_count,
       string_agg(DISTINCT reason_prefix, '|' ORDER BY reason_prefix) AS reasons_joined
FROM refund_records
WHERE refund_eligible
GROUP BY state"""


ALL_TIME_ACTIVITY_CTE = """activity AS (
  SELECT state, CAST(SUM(amount) AS DECIMAL(18,2)) AS revenue,
         count(*) AS txn_count
  FROM transactions_derived GROUP BY state
)"""


def periodized_activity_cte() -> str:
    """DuckDB twin of nexus.periodized_activity (same period predicates,
    same greatest(current, prior) for current_or_prior)."""
    as_of = derived.NEXUS_AS_OF.isoformat()
    in_cur = (
        f"(transaction_date >= date_trunc('year', DATE '{as_of}')"
        f" AND transaction_date <= DATE '{as_of}')"
    )
    in_prior = (
        f"(year(transaction_date) = year(DATE '{as_of}') - 1)"
    )
    in_r12 = (
        f"(transaction_date > DATE '{as_of}' - INTERVAL 12 MONTH"
        f" AND transaction_date <= DATE '{as_of}')"
    )
    in_r4q = (
        f"(transaction_date >= CAST(date_trunc('quarter', DATE '{as_of}')"
        f" - INTERVAL 12 MONTH AS DATE)"
        f" AND transaction_date <= DATE '{as_of}')"
    )
    in_all = f"(transaction_date <= DATE '{as_of}')"
    in_simple = f"""CASE measurement_period
      WHEN 'current_year' THEN {in_cur}
      WHEN 'prior_year' THEN {in_prior}
      WHEN 'rolling_12' THEN {in_r12}
      WHEN 'rolling_4q' THEN {in_r4q}
      ELSE {in_all} END"""
    return f"""joined_period AS (
  SELECT d.*, t.measurement_period
  FROM transactions_derived d
  LEFT JOIN nexus_thresholds t ON d.state = t.state_code
),
period_agg AS (
  SELECT state,
    CAST(COALESCE(SUM(CASE WHEN {in_simple} THEN amount END), 0) AS DECIMAL(18,2)) AS rev_simple,
    CAST(SUM(CASE WHEN {in_simple} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_simple,
    CAST(COALESCE(SUM(CASE WHEN {in_cur} THEN amount END), 0) AS DECIMAL(18,2)) AS rev_cur,
    CAST(SUM(CASE WHEN {in_cur} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cur,
    CAST(COALESCE(SUM(CASE WHEN {in_prior} THEN amount END), 0) AS DECIMAL(18,2)) AS rev_prior,
    CAST(SUM(CASE WHEN {in_prior} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_prior,
    ANY_VALUE(measurement_period) AS mp
  FROM joined_period GROUP BY state
),
activity AS (
  SELECT state,
    CASE WHEN mp = 'current_or_prior' THEN greatest(rev_cur, rev_prior)
         ELSE rev_simple END AS revenue,
    CASE WHEN mp = 'current_or_prior' THEN greatest(cnt_cur, cnt_prior)
         ELSE cnt_simple END AS txn_count
  FROM period_agg
)"""


def nexus_status_sql(activity_cte: str = ALL_TIME_ACTIVITY_CTE) -> str:
    no_nexus = ", ".join(_q(s) for s in ("DE", "MT", "NH", "OR"))
    return f"""WITH {dim_ctes().lstrip()},
{transactions_cte().lstrip()},
{activity_cte},
joined AS (
  SELECT a.*, t.revenue_threshold, t.transaction_threshold, t.measurement_period,
    (a.state IN ({no_nexus})) AS is_no_nexus,
    (t.revenue_threshold IS NULL) AS no_data
  FROM activity a LEFT JOIN nexus_thresholds t ON a.state = t.state_code
),
status AS (
  SELECT *,
    (is_no_nexus OR no_data) AS special,
    CASE WHEN revenue_threshold > 0
         THEN CAST(revenue AS DOUBLE) / CAST(revenue_threshold AS DOUBLE) * 100
         ELSE 0.0 END AS rev_pct_raw,
    CASE WHEN transaction_threshold IS NOT NULL
         THEN CAST(txn_count AS DOUBLE) / CAST(transaction_threshold AS DOUBLE) * 100
         END AS txn_pct_raw,
    (revenue >= revenue_threshold OR
     (transaction_threshold IS NOT NULL AND txn_count >= transaction_threshold)) AS economic
  FROM joined
)
SELECT state AS state_code,
  CASE WHEN is_no_nexus THEN FALSE WHEN no_data THEN FALSE ELSE economic END AS has_nexus,
  CAST(revenue AS DOUBLE) AS revenue_in_state,
  txn_count AS transactions_in_state,
  CAST(CASE WHEN special THEN CAST(0 AS DECIMAL(18,2)) ELSE revenue_threshold END AS DOUBLE)
    AS revenue_threshold,
  CASE WHEN special THEN NULL ELSE transaction_threshold END AS transaction_threshold,
  CASE WHEN special THEN 0.0 ELSE rev_pct_raw END AS revenue_pct_of_threshold,
  CASE WHEN special THEN NULL ELSE txn_pct_raw END AS transaction_pct_of_threshold,
  CASE WHEN special THEN FALSE
       ELSE (rev_pct_raw >= 80 OR COALESCE(txn_pct_raw >= 80, FALSE)) AND NOT economic
       END AS approaching_threshold
FROM status"""


def nexus_periodized_sql() -> str:
    return nexus_status_sql(periodized_activity_cte())


def nexus_alerts_sql() -> str:
    """Wrap nexus_status_sql's final SELECT into a CTE and derive the two
    alert branches (U1 union) from it."""
    registered = ", ".join(_q(s) for s in derived.REGISTERED_STATES)
    status_sql = nexus_status_sql()
    # wrap: WITH <ctes...>, nexus_final AS (SELECT ...) SELECT alerts
    body = status_sql.removeprefix("WITH ")
    idx = body.rindex("\nSELECT state AS state_code")
    ctes, final_select = body[:idx], body[idx + 1 :]
    return f"""WITH {ctes},
nexus_final AS (
{final_select}
)
SELECT 'critical' AS severity, state_code,
       'unregistered_nexus' AS alert_type,
       revenue_in_state
FROM nexus_final
WHERE has_nexus AND state_code NOT IN ({registered})
UNION ALL
SELECT 'warning' AS severity, state_code,
       'approaching_threshold' AS alert_type,
       revenue_in_state
FROM nexus_final
WHERE (NOT has_nexus) AND approaching_threshold"""


def filing_calendar_sql() -> str:
    states = ", ".join(_q(s) for s in derived.REGISTERED_STATES)
    filed = _values(
        [(s, a.isoformat(), b.isoformat()) for s, a, b in derived.FILED_PERIODS]
    )
    y = derived.CALENDAR_YEAR
    as_of = derived.CAL_AS_OF.isoformat()
    return f"""WITH {dim_ctes().lstrip()},
reg_states(state_code) AS (VALUES {'(' + "), (".join(_q(s) for s in derived.REGISTERED_STATES) + ')'}),
filed_raw(state_code, ps, pe) AS (VALUES
    {filed}),
filed AS (SELECT state_code, CAST(ps AS DATE) AS ps, CAST(pe AS DATE) AS pe FROM filed_raw),
months AS (
  SELECT CAST(r.range AS DATE) AS period_start
  FROM range(DATE '{y}-01-01', DATE '{y}-12-31', INTERVAL 1 MONTH) r
),
cal AS (
  SELECT s.state_code, m.period_start,
         last_day(m.period_start) AS period_end,
         COALESCE(d.due_day, 20) AS due_day
  FROM reg_states s CROSS JOIN months m
  LEFT JOIN filing_due_day d ON d.state_code = s.state_code
),
cal2 AS (
  SELECT state_code, period_start, period_end,
         make_date(CAST(year(period_end + INTERVAL 1 DAY) AS INT),
                   CAST(month(period_end + INTERVAL 1 DAY) AS INT),
                   due_day) AS due_date
  FROM cal
),
cal3 AS (
  SELECT c.*, (f.state_code IS NOT NULL) AS is_filed
  FROM cal2 c LEFT JOIN filed f
    ON f.state_code = c.state_code AND f.ps = c.period_start AND f.pe = c.period_end
)
SELECT state_code, period_start, period_end, due_date,
       'monthly' AS frequency,
       (due_date < DATE '{as_of}' AND NOT is_filed) AS is_overdue,
       CAST(date_diff('day', DATE '{as_of}', due_date) AS INTEGER) AS days_until_due,
       CASE WHEN is_filed THEN 'filed'
            WHEN due_date < DATE '{as_of}' THEN 'overdue'
            ELSE 'pending' END AS status
FROM cal3"""


def rates_top10_sql() -> str:
    return f"""WITH {dim_ctes().lstrip()}
SELECT state_code, state_name, CAST(avg_combined_rate AS DOUBLE) AS avg_combined_rate
FROM state_rates
ORDER BY avg_combined_rate DESC, state_code
LIMIT 10"""


def rates_lowest10_sql() -> str:
    return f"""WITH {dim_ctes().lstrip()}
SELECT state_code, state_name, CAST(avg_combined_rate AS DOUBLE) AS avg_combined_rate
FROM state_rates
WHERE base_rate > 0
ORDER BY avg_combined_rate ASC, state_code
LIMIT 10"""


def no_tax_states_sql() -> str:
    return f"""WITH {dim_ctes().lstrip()}
SELECT state_code FROM state_rates WHERE base_rate = 0 ORDER BY state_code"""


def rates_extremes_sql() -> str:
    """Twin of queries.rates_extremes: top-10 / lowest-10-nonzero / no-tax
    buckets over the state_rates dim, marker-tagged."""
    return f"""WITH {dim_ctes().lstrip()}
SELECT 'top' AS bucket, * FROM (
  SELECT state_code, state_name,
         CAST(avg_combined_rate AS DOUBLE) AS avg_combined_rate
  FROM state_rates
  ORDER BY avg_combined_rate DESC, state_code LIMIT 10)
UNION ALL
SELECT 'low' AS bucket, * FROM (
  SELECT state_code, state_name,
         CAST(avg_combined_rate AS DOUBLE) AS avg_combined_rate
  FROM state_rates WHERE base_rate > 0
  ORDER BY avg_combined_rate ASC, state_code LIMIT 10)
UNION ALL
SELECT 'zero' AS bucket, state_code, state_name,
       CAST(avg_combined_rate AS DOUBLE) AS avg_combined_rate
FROM state_rates WHERE base_rate = 0"""


def states_exempting_grocery_sql() -> str:
    return f"""WITH {dim_ctes().lstrip()}
SELECT state_code FROM state_exemptions WHERE category = 'grocery'
ORDER BY state_code"""


# ---------------------------------------------------------------------------
# Generic relational / windowed oracle SQL (star schema + events)
# ---------------------------------------------------------------------------


def pricing_summary_sql() -> str:
    return """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_charge,
       count(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def supplier_part_revenue_sql() -> str:
    """Twin of queries.supplier_part_revenue: the same three-way
    dimension join and decimal-exact revenue sum, double at the edge."""
    return """SELECT n.n_name AS nation, p.p_brand AS brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name, p.p_brand"""


def top_customers_sql() -> str:
    return """SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20"""


def customer_order_ranks_sql() -> str:
    return """SELECT o_custkey, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3"""


def events_sessions_sql() -> str:
    # exact integer-seconds arithmetic (epoch_ns // 1e9) to mirror the Spark
    # side's nanos-as-long handling
    return """WITH base AS (
  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS ts_sec
  FROM events),
lagged AS (
  SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
  FROM base),
flagged AS (
  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800
                 THEN 1 ELSE 0 END AS new_session
  FROM lagged),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
       count(*) AS n_events,
       strftime(to_timestamp(MIN(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(to_timestamp(MAX(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sess GROUP BY user_id, session_id"""


def events_hourly_sql() -> str:
    # integer-seconds hour bucketing from epoch nanos — mirrors the Spark
    # side's nanosAsLong read (events.ts is parquet TIMESTAMP(NANOS))
    return """SELECT
  strftime(make_timestamp(((epoch_ns(ts) // 1000000000)
                           - (epoch_ns(ts) // 1000000000) % 3600) * 1000000),
           '%Y-%m-%d %H:%M:%S') AS hour_start,
  event_type,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2"""


def pricing_rollup_sql() -> str:
    return """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS count_order,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def events_asof_sql() -> str:
    # Deterministic as-of twin: ordered LATERAL (greatest ts, then greatest
    # event_id) instead of DuckDB's ASOF JOIN, whose equal-ts tie-break is
    # unspecified.  epoch_us keeps the full microsecond precision the Spark
    # side's unix_micros uses.
    return """WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_ts_us, value AS p_value
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id, user_id, epoch_us(ts) AS c_ts_us, value AS c_value
  FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.p_ts_us, p.p_value,
       l.click_event_id, l.click_ts_us, l.click_value,
       p.p_ts_us - l.click_ts_us AS lag_us
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id AS click_event_id, c.c_ts_us AS click_ts_us,
         c.c_value AS click_value
  FROM c
  WHERE c.user_id = p.user_id AND c.c_ts_us <= p.p_ts_us
  ORDER BY c.c_ts_us DESC, c.event_id DESC
  LIMIT 1) l ON TRUE"""


def events_asof_next_sql() -> str:
    # forward twin: earliest at-or-after purchase, smallest-id tie-break
    return """WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS c_ts_us, value AS c_value
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_ts_us, value AS p_value
  FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.c_ts_us, c.c_value,
       l.p_event_id, l.p_ts_us, l.p_value,
       l.p_ts_us - c.c_ts_us AS lead_us
FROM c LEFT JOIN LATERAL (
  SELECT p.event_id AS p_event_id, p.p_ts_us, p.p_value
  FROM p
  WHERE p.user_id = c.user_id AND p.p_ts_us >= c.c_ts_us
  ORDER BY p.p_ts_us ASC, p.event_id ASC
  LIMIT 1) l ON TRUE"""


def events_asof_both_sql() -> str:
    """Twin of queries.events_asof_both: both ordered-LATERAL as-of
    directions renamed to the common (event, matched) schema and unioned."""
    return f"""SELECT 'backward' AS direction, event_id, user_id,
       p_ts_us AS ts_us, p_value AS value,
       click_event_id AS matched_event_id, click_ts_us AS matched_ts_us,
       click_value AS matched_value, lag_us AS delta_us
FROM ({events_asof_sql()})
UNION ALL
SELECT 'forward' AS direction, event_id, user_id,
       c_ts_us AS ts_us, c_value AS value,
       p_event_id AS matched_event_id, p_ts_us AS matched_ts_us,
       p_value AS matched_value, lead_us AS delta_us
FROM ({events_asof_next_sql()})"""


def events_range_pairs_sql(window_hours: int = 4) -> str:
    # The textbook inequality join the bucketized band join replicates.
    window_us = window_hours * 3600 * 1_000_000
    return f"""SELECT p.user_id,
  p.event_id AS p_event_id,
  c.event_id AS click_event_id,
  epoch_us(p.ts) AS p_ts_us,
  epoch_us(c.ts) AS click_ts_us,
  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - {window_us} AND epoch_us(p.ts)"""


def region_revenue_sql() -> str:
    return """SELECT r.r_name AS region,
  count(*) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  count(DISTINCT o.o_custkey) AS n_customers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name"""


def order_shipping_priority_sql() -> str:
    """Twin of queries.order_shipping_priority: same segment filter,
    date split, decimal-exact revenue, (revenue DESC, orderkey) top-10."""
    return """SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
       o.o_orderpriority,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10"""


def nation_local_supplier_volume_sql() -> str:
    """Twin of queries.nation_local_supplier_volume: the 6-way star with
    the customer-nation = supplier-nation cross-dimension equality."""
    return """SELECT n.n_name AS nation, r.r_name AS region,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE year(o.o_orderdate) = 1997
GROUP BY n.n_name, r.r_name"""


def part_promo_revenue_sql() -> str:
    """Twin of queries.part_promo_revenue: the same OR-of-ANDs
    disjunctive predicate over the part join."""
    return """SELECT
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 25)
   OR (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)"""


def customers_without_orders_sql() -> str:
    return """SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
WHERE year(o_orderdate) = 1998"""


def events_funnel_sql() -> str:
    """Twin of queries.events_funnel: per-user first-touch frontiers
    chained by strictly-after min aggregations, scalar step counts, one
    exactly-rounded conversion division."""
    from .queries import FUNNEL_STEPS

    ctes = [
        """ev AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_sec
  FROM events)""",
        f"""s1 AS (
  SELECT user_id, min(ts_sec) AS t FROM ev
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)""",
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        ctes.append(
            f"""s{i} AS (
  SELECT e.user_id, min(e.ts_sec) AS t
  FROM ev e JOIN s{i - 1} p
    ON p.user_id = e.user_id AND e.ts_sec > p.t
  WHERE e.event_type = '{step}' GROUP BY e.user_id)"""
        )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT {i + 1} AS step, '{s}' AS event_type,"
        f" count(*) AS n FROM s{i + 1}"
        for i, s in enumerate(FUNNEL_STEPS)
    )
    joined_ctes = ",\n".join(ctes)
    return f"""WITH {joined_ctes},
counts AS (
{unions})
SELECT CAST(step AS INTEGER) AS step, event_type,
  CAST(n AS BIGINT) AS n_users,
  CAST(n AS DOUBLE)
    / CAST((SELECT n FROM counts WHERE step = 1) AS DOUBLE) AS conversion
FROM counts"""


def events_retention_sql() -> str:
    """Twin of queries.events_retention: Monday-aligned integer week
    indices ((ts_sec + 259200) // 604800), per-user min cohort week,
    distinct activity weeks, (cohort, offset) counts."""
    return """WITH ev AS (
  SELECT user_id,
         (epoch_ns(ts) // 1000000000 + 259200) // 604800 AS wk
  FROM events),
cohorts AS (SELECT user_id, min(wk) AS cwk FROM ev GROUP BY user_id),
active AS (SELECT DISTINCT user_id, wk FROM ev)
SELECT
  strftime(make_timestamp((cwk * 604800 - 259200) * 1000000),
           '%Y-%m-%d') AS cohort_week,
  CAST(wk - cwk AS INTEGER) AS week_offset,
  CAST(count(*) AS BIGINT) AS n_users
FROM active JOIN cohorts USING (user_id)
GROUP BY 1, 2"""


def events_anomalies_sql() -> str:
    """Twin of queries.events_anomalies: identical hourly counts, the
    same per-row prefix EWMA fold (seed x1, step 0.25*x + 0.75*acc —
    exact binary constants), 2x-prior spike flag."""
    return """WITH counts AS (
  SELECT event_type,
         (epoch_ns(ts) // 1000000000)
           - (epoch_ns(ts) // 1000000000) % 3600 AS hour_sec,
         count(*) AS n_events
  FROM events GROUP BY 1, 2),
grouped AS (
  SELECT event_type,
         list({'h': hour_sec, 'n': n_events} ORDER BY hour_sec) AS xs
  FROM counts GROUP BY event_type),
rows_r AS (
  SELECT event_type, xs, r, xs[r] AS x,
    CASE WHEN r > 1 THEN
      list_reduce(
        list_prepend(CAST(xs[1].n AS DOUBLE),
          list_transform(list_slice(xs, 2, r - 1),
                         s -> CAST(s.n AS DOUBLE))),
        (acc, v) -> 0.25 * v + 0.75 * acc)
    END AS ewma_prev
  FROM grouped, unnest(range(1, len(xs) + 1)) AS u(r))
SELECT event_type,
  strftime(make_timestamp(x.h * 1000000), '%Y-%m-%d %H:%M:%S')
    AS hour_start,
  CAST(x.n AS BIGINT) AS n_events,
  ewma_prev,
  COALESCE(CAST(x.n AS DOUBLE) > 2.0 * ewma_prev, FALSE) AS is_spike
FROM rows_r"""


def events_transitions_sql() -> str:
    """Twin of queries.events_transitions: the same lead() successor
    relation under the identical (ts, event_id) per-user total order,
    integer pair counts, and the one exactly-rounded P(next|prev)
    division.  sum() is cast off HUGEINT before the division so the
    dtype classes match (the round-1 bug class)."""
    return """WITH nx AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
c AS (
  SELECT prev_type, next_type, count(*) AS n_pairs
  FROM nx WHERE next_type IS NOT NULL
  GROUP BY prev_type, next_type),
t AS (
  SELECT prev_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
  FROM c GROUP BY prev_type)
SELECT c.prev_type, c.next_type, c.n_pairs,
       CAST(c.n_pairs AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS prob
FROM c JOIN t USING (prev_type)
ORDER BY prev_type, next_type"""


def events_key_skew_sql() -> str:
    """Twin of queries.events_key_skew: floor(log2) via bin()-string
    length on both engines (pure integer/string), 2^bucket as the
    always-exact power-of-two double cast back to BIGINT."""
    return """WITH per_user AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
b AS (
  SELECT CAST(length(bin(n_events)) - 1 AS INTEGER) AS bucket, n_events
  FROM per_user)
SELECT bucket,
       CAST(power(2, bucket) AS BIGINT) AS bucket_lo,
       count(*) AS n_users,
       CAST(min(n_events) AS BIGINT) AS min_events,
       CAST(max(n_events) AS BIGINT) AS max_events,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM b GROUP BY bucket
ORDER BY bucket"""


def basket_part_pairs_sql() -> str:
    """Twin of queries.basket_part_pairs: identical distinct-items CTE,
    self-join pair counts, and the fixed-association
    (n_both·n_orders)/(n_a·n_b) double arithmetic.  Counts stay BIGINT
    (count(*), never sum) so no HUGEINT leaks into the dtype classes."""
    return """WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
  SELECT l_partkey, count(*) AS n_ord FROM items GROUP BY l_partkey),
no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2)
SELECT p.part_a, p.part_b, p.n_both,
       ca.n_ord AS n_part_a, cb.n_ord AS n_part_b,
       CAST(p.n_both AS DOUBLE) / CAST(no.n_orders AS DOUBLE) AS support,
       (CAST(p.n_both AS DOUBLE) * CAST(no.n_orders AS DOUBLE))
         / (CAST(ca.n_ord AS DOUBLE) * CAST(cb.n_ord AS DOUBLE)) AS lift
FROM pairs p
JOIN pc ca ON ca.l_partkey = p.part_a
JOIN pc cb ON cb.l_partkey = p.part_b, no
ORDER BY p.part_a, p.part_b"""


def events_gapfill_sql(step: int = 3600) -> str:
    """Twin of queries.events_gapfill: same integer hour bucketing from
    epoch nanos, the same dense spine via a lateral range() over the
    scalar bounds, the per-cell representative picked by the identical
    unique (ts_us, event_id) order (row_number DESC = struct max), and
    LOCF as DuckDB's IGNORE NULLS last_value — a pure value copy, so
    the carried double is bit-exact."""
    return f"""
WITH ev AS (
  SELECT event_type, event_id, value,
         epoch_ns(ts) // 1000 AS ts_us,
         ((epoch_ns(ts) // 1000000000)
          - (epoch_ns(ts) // 1000000000) % {step}) AS bucket_sec
  FROM events),
cells AS (
  SELECT event_type, bucket_sec, count(*) AS n_events,
         (max(struct_pack(ts_us := ts_us, event_id := event_id,
                          v := value))).v AS obs
  FROM ev GROUP BY 1, 2),
bounds AS (SELECT min(bucket_sec) AS lo, max(bucket_sec) AS hi FROM ev),
spine AS (
  SELECT t.event_type, g.b AS bucket_sec
  FROM (SELECT DISTINCT event_type FROM ev) t,
       bounds, unnest(range(bounds.lo, bounds.hi + 1, {step})) AS g(b))
SELECT s.event_type, s.bucket_sec,
       COALESCE(c.n_events, 0) AS n_events,
       last_value(c.obs IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket_sec
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       c.n_events IS NULL AS is_gap
FROM spine s
LEFT JOIN cells c
  ON c.event_type = s.event_type AND c.bucket_sec = s.bucket_sec
ORDER BY s.event_type, s.bucket_sec"""


def customer_value_deciles_sql() -> str:
    """Twin of queries.customer_value_deciles: DuckDB's native ntile(10)
    over the same (rev_cents DESC, o_custkey) total order the Spark side
    assembles from the sharded two-level rank; revenue in exact integer
    cents; the two shares are the same exactly-rounded int→double
    divisions."""
    return """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1),
tiled AS (
  SELECT rev_cents,
         ntile(10) OVER (ORDER BY rev_cents DESC, o_custkey) AS decile
  FROM rev),
agg AS (
  SELECT decile, count(*) AS n_customers,
         CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
  FROM tiled GROUP BY 1),
shares AS (
  SELECT *,
         CAST(SUM(revenue_cents) OVER () AS BIGINT) AS total,
         CAST(SUM(revenue_cents) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM agg)
SELECT CAST(decile AS INTEGER) AS decile, n_customers, revenue_cents,
       CAST(revenue_cents AS DOUBLE) / CAST(total AS DOUBLE)
         AS revenue_share,
       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM shares
ORDER BY decile"""


def events_audience_overlap_sql() -> str:
    """Twin of queries.events_audience_overlap: the same exact overlap
    counts computed the plain-SQL way — DISTINCT (type, user) pairs,
    pairwise equi-join on user, per-type audience counts — instead of
    the Spark side's 62-bit bitmap-word fold; identical integers, same
    single exactly-rounded Jaccard division."""
    return """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
tc AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       ta.n AS n_a, tb.n AS n_b, count(*) AS n_both,
       CAST(count(*) AS DOUBLE)
         / CAST(ta.n + tb.n - count(*) AS DOUBLE) AS jaccard
FROM du a
JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
JOIN tc ta ON ta.event_type = a.event_type
JOIN tc tb ON tb.event_type = b.event_type
GROUP BY a.event_type, b.event_type, ta.n, tb.n
ORDER BY type_a, type_b"""


def lineitem_regression_sql() -> str:
    """Twin of queries.lineitem_regression: the same sufficient
    statistics in HUGEINT (exact integers, == Spark's DECIMAL(38,0)
    path), the same correctly-rounded wide-int→double conversions, and
    the coefficient expressions written with the identical IEEE op
    order."""
    return """
WITH rows_i AS (
  SELECT l_returnflag,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem),
s AS (
  SELECT l_returnflag, count(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM rows_i GROUP BY 1),
c AS (
  SELECT l_returnflag, n, sx, sy,
         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n AS HUGEINT) * sxx - sx * sx AS den
  FROM s)
SELECT l_returnflag, n,
       CAST(sx AS DOUBLE) AS sum_qty,
       CAST(sy AS DOUBLE) AS sum_cents,
       CAST(num AS DOUBLE) AS slope_num,
       CAST(den AS DOUBLE) AS slope_den,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope_cents_per_unit,
       (CAST(sy AS DOUBLE)
        - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents
FROM c
ORDER BY l_returnflag"""


def events_pivot_sql() -> str:
    """Twin of queries.events_pivot: the same hour × type crosstab as
    explicit FILTER aggregates (the portable spelling of a
    fixed-vocabulary pivot)."""
    cols = ",\n       ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
        for t in ["click", "error", "purchase", "signup", "view"]
    )
    return f"""
SELECT ((epoch_ns(ts) // 1000000000)
        - (epoch_ns(ts) // 1000000000) % 3600) AS hour_sec,
       {cols},
       count(*) FILTER (WHERE event_type IN
         ('click', 'error', 'purchase', 'signup', 'view')) AS n_total
FROM events
GROUP BY 1
ORDER BY hour_sec"""


def events_attribution_linear_sql() -> str:
    """Twin of queries.events_attribution_linear: the same trailing-
    hour (user, time) pair join, per-purchase touch count, and one
    exactly-rounded cents/int division at pair grain (no float sums
    anywhere)."""
    return """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us, value
  FROM events),
p AS (
  SELECT event_id AS purchase_id, user_id, ts_us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
  FROM ev WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS click_id, user_id, ts_us AS cts
  FROM ev WHERE event_type = 'click'),
pairs AS (
  SELECT p.purchase_id, c.click_id, p.user_id, p.value_cents
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.cts BETWEEN p.ts_us - 3600000000 AND p.ts_us),
cnt AS (
  SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touches
  FROM pairs)
SELECT purchase_id, click_id, user_id, n_touches,
       CAST(value_cents AS DOUBLE) / CAST(n_touches AS DOUBLE)
         AS share_cents
FROM cnt
ORDER BY purchase_id, click_id"""


def events_active_users_sql() -> str:
    """Twin of queries.events_active_users: the plain-SQL spelling —
    per-day DISTINCT users and a trailing-week day-range join with
    COUNT(DISTINCT) — vs the Spark side's sliding bitmap-word fold;
    identical integers, one exactly-rounded stickiness division."""
    return """
WITH ev AS (
  SELECT (epoch_ns(ts) // 1000000000) // 86400 AS day, user_id
  FROM events),
b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
days AS (SELECT g.d AS day FROM b, unnest(range(b.lo, b.hi + 1)) AS g(d)),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ev GROUP BY 1),
wau AS (
  SELECT d.day, count(DISTINCT e.user_id) AS wau
  FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
  GROUP BY 1)
SELECT w.day, COALESCE(dau.dau, 0) AS dau, w.wau,
       CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(w.wau AS DOUBLE)
         AS stickiness
FROM wau w LEFT JOIN dau ON dau.day = w.day
ORDER BY w.day"""


def events_value_sketch_sql(k: int = 512) -> str:
    """Twin of queries.events_value_sketch: the single-window form of
    the min-k-by-LCG-hash sample (value-identical to the engine's
    sharded two-level cut), then the same quantile_cont ≡ percentile
    interpolation over the sample.  The LCG reduces both operands mod
    1e9+7 BEFORE the multiply, exactly like corpus.sample_hash_col."""
    return f"""WITH h AS (
  SELECT event_type, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         ((event_id % 1000000007) * (2654435761 % 1000000007) + 104729)
           % 1000000007 AS hk
  FROM events),
r AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY hk, event_id) AS rn
  FROM h)
SELECT event_type, count(*) AS sample_n,
       quantile_cont(c, 0.5) AS p50_est,
       quantile_cont(c, 0.9) AS p90_est,
       quantile_cont(c, 0.99) AS p99_est
FROM r WHERE rn <= {k}
GROUP BY event_type
ORDER BY event_type"""


def events_props_profile_sql() -> str:
    """Twin of queries.events_props_profile: per-row json_keys explode,
    dynamic-path string extraction, try_cast numeric stats."""
    return """WITH ex AS (
  SELECT event_type, unnest(json_keys(props)) AS json_key, props
  FROM events),
vals AS (
  SELECT event_type, json_key,
         json_extract_string(props, '$.' || json_key) AS v
  FROM ex)
SELECT event_type, json_key,
       count(*) AS n_rows,
       count(v) AS n_vals,
       count(DISTINCT v) AS n_distinct,
       count(try_cast(v AS DOUBLE)) AS n_numeric,
       min(try_cast(v AS DOUBLE)) AS min_num,
       max(try_cast(v AS DOUBLE)) AS max_num
FROM vals
GROUP BY event_type, json_key
ORDER BY event_type, json_key"""


def events_reach_sketch_sql(k: int = 64) -> str:
    """Twin of queries.events_reach_sketch: distinct (type, user) pairs,
    the same LCG hash (both operands reduced mod 1e9+7 before the
    multiply), the k smallest per type, and the KMV estimate — (k−1)·M
    precomputed exactly, ONE rounded division."""
    scale = repr(float((k - 1) * 1_000_000_007))
    return f"""WITH u AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         ((user_id % 1000000007) * (2654435761 % 1000000007) + 104729)
           % 1000000007 AS hk
  FROM u),
r AS (
  SELECT event_type, hk,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY hk, user_id) AS rn
  FROM h)
SELECT event_type, count(*) AS n_kept, max(hk) AS kth_hash,
       CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
            ELSE CAST({scale} AS DOUBLE) / CAST(max(hk) AS DOUBLE)
       END AS est_reach
FROM r WHERE rn <= {k}
GROUP BY event_type
ORDER BY event_type"""


def nation_top_customer_list_sql() -> str:
    """Twin of queries.nation_top_customer_list: window top-3 per
    nation (== the sharded two-level rank) and DuckDB's ordered
    string_agg in the identical (rank) order."""
    return """
WITH rev AS (
  SELECT n.n_name, c.c_custkey, c.c_name,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY n_name ORDER BY rev_cents DESC, c_custkey) AS r
  FROM rev)
SELECT n_name, count(*) AS n_top,
       CAST(SUM(rev_cents) AS BIGINT) AS top_rev_cents,
       string_agg(c_name, ',' ORDER BY r) AS top_customers
FROM ranked WHERE r <= 3
GROUP BY n_name ORDER BY n_name"""


def events_debounce_sql(gap_us: int = 5_000_000) -> str:
    """Twin of queries.events_debounce: the identical lag + running-sum
    episode assignment over (user, type, ts_us, event_id) order."""
    return f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
  FROM events),
flagged AS (
  SELECT *,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new_ep
  FROM ev
  WINDOW w AS (PARTITION BY user_id, event_type
               ORDER BY ts_us, event_id)),
episodes AS (
  SELECT *, CAST(SUM(new_ep) OVER (
    PARTITION BY user_id, event_type ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
    AS episode
  FROM flagged)
SELECT user_id, event_type, episode,
       (min(struct_pack(ts_us := ts_us, event_id := event_id))).event_id
         AS first_event_id,
       count(*) AS n_collapsed,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM episodes
GROUP BY user_id, event_type, episode
ORDER BY user_id, event_type, episode"""


def events_bot_regularity_sql() -> str:
    """Twin of queries.events_bot_regularity: the same integer-exact
    gap moments (lag over epoch-microseconds), one exactly-rounded
    division for cv², and the pure-integer bot-flag comparison."""
    return """WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS gap
  FROM events),
stats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS sum_gap,
         SUM(CAST(gap AS HUGEINT) * gap) AS gsq
  FROM gaps WHERE gap IS NOT NULL GROUP BY user_id),
m AS (
  SELECT user_id, n_gaps, sum_gap,
         CAST(n_gaps AS HUGEINT) * gsq
           - CAST(sum_gap AS HUGEINT) * sum_gap AS num,
         CAST(sum_gap AS HUGEINT) * sum_gap AS s2
  FROM stats)
SELECT user_id, n_gaps, sum_gap,
  CAST(num AS DOUBLE) / CAST(s2 AS DOUBLE) AS cv2,
  CASE WHEN n_gaps >= 5 THEN 100 * num < s2 END AS is_bot_like
FROM m
ORDER BY user_id"""
