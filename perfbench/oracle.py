"""Expected results from the package's DuckDB oracle SQL
(``tax_compliance_engine_spark.plans.oracle``), pointed at the generated
inputs instead of the testdata parquet it was written for.

The oracle's queries read one ``transactions_derived`` CTE; here that CTE is
swapped for one over the benchmark's CSV or quote items,
applying the engine's boundary contract (reject malformed rows, upper/trim
state, blank → NULL, defaults).  DuckDB never sees the engine's output.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from pathlib import Path
from unittest import mock

import duckdb

from tax_compliance_engine_spark.plans import derived
from tax_compliance_engine_spark.plans import oracle as sql

_CSV_COLUMNS = (
    "{'transaction_id': 'VARCHAR', 'transaction_date': 'VARCHAR', "
    "'amount': 'VARCHAR', 'state': 'VARCHAR', 'city': 'VARCHAR', "
    "'item_category': 'VARCHAR', 'tax_paid': 'VARCHAR'}"
)

# scan_transactions_csv's validity predicate, in DuckDB
_VALID = """transaction_id IS NOT NULL AND trim(transaction_id) <> ''
  AND try_strptime(transaction_date, '%Y-%m-%d') IS NOT NULL
  AND TRY_CAST(amount AS DECIMAL(18,2)) IS NOT NULL
  AND state IS NOT NULL AND trim(state) <> ''
  AND (tax_paid IS NULL OR TRY_CAST(tax_paid AS DECIMAL(18,2)) IS NOT NULL)"""


def _txn_cte(source: str, where: str = "TRUE") -> str:
    """``transactions_derived`` over ``source`` with normalize_transactions'
    boundary semantics."""
    return f"""transactions_derived AS (
  SELECT transaction_id,
    CAST(try_strptime(CAST(transaction_date AS VARCHAR), '%Y-%m-%d') AS DATE) AS transaction_date,
    CAST(amount AS DECIMAL(18,2)) AS amount,
    upper(trim(state)) AS state,
    NULLIF(city, '') AS city,
    NULLIF(item_category, '') AS item_category,
    COALESCE(CAST(tax_paid AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS tax_paid,
    NULLIF(exemption_certificate, '') AS exemption_certificate,
    COALESCE(customer_type, 'retail') AS customer_type,
    COALESCE(pricing_model, 'exclusive') AS pricing_model
  FROM {source}
  WHERE {where}
)"""


def _retarget(query: str, txn_cte: str) -> str:
    stock = sql.transactions_cte().lstrip()
    if stock not in query:
        raise RuntimeError("oracle SQL no longer embeds transactions_cte()")
    return query.replace(stock, txn_cte)


def _rows(con, query: str) -> list[dict]:
    cur = con.execute(query)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _connect(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def close_expected(csv_path: Path, as_of: dt.date, threads: int) -> dict:
    """Everything a close pass must reproduce, from the raw CSV."""
    con = _connect(threads)
    try:
        con.execute(
            "CREATE TABLE raw AS SELECT *, CAST(NULL AS VARCHAR) AS exemption_certificate, "
            "CAST(NULL AS VARCHAR) AS customer_type, CAST(NULL AS VARCHAR) AS pricing_model "
            f"FROM read_csv('{csv_path}', header=true, auto_detect=false, columns={_CSV_COLUMNS})"
        )
        cte = _txn_cte("raw", _VALID)
        rejected = con.execute(f"SELECT count(*) FROM raw WHERE NOT ({_VALID})").fetchone()[0]
        totals = _rows(con, _retarget(sql.tax_batch_totals_sql(), cte))[0]
        states = _rows(con, _retarget(sql.tax_state_summary_sql(), cte))
        # the refund oracle pins its statute-of-limitations cutoffs to
        # derived.AS_OF; give it the benchmark's analysis date instead
        with mock.patch.object(derived, "AS_OF", as_of):
            refund = _rows(con, _retarget(sql.refund_summary_sql(), cte))[0]
            claims = _rows(con, _retarget(sql.refund_claims_sql(), cte))
        nexus = _rows(con, _retarget(sql.nexus_status_sql(), cte))
    finally:
        con.close()
    return {
        "rejected": rejected,
        "totals": totals,
        "states": {r["state"]: r for r in states},
        "refund": refund,
        "claims": {r["state_code"]: r for r in claims},
        "nexus": {r["state_code"]: r for r in nexus},
    }


def quote_expected(requests: list[dict], as_of: dt.date, threads: int) -> list:
    """The expected answer to every request, in request order: sorted
    per-item tax tuples for a basket, (state, city, rate, name) for a
    lookup."""
    items = [it for r in requests if r["kind"] == "basket" for it in r["items"]]
    con = _connect(threads)
    try:
        con.execute(
            "CREATE TABLE items (transaction_id VARCHAR, transaction_date DATE, "
            "amount VARCHAR, state VARCHAR, city VARCHAR, item_category VARCHAR, "
            "tax_paid VARCHAR, exemption_certificate VARCHAR, customer_type VARCHAR, "
            "pricing_model VARCHAR)"
        )
        con.executemany(
            "INSERT INTO items VALUES (?, ?, ?, ?, ?, ?, '0.00', ?, ?, ?)",
            [
                (it["transaction_id"], as_of, str(Decimal(it["amount"]).scaleb(-2)),
                 it["state"], it["city"], it["item_category"],
                 it["exemption_certificate"], it["customer_type"], it["pricing_model"])
                for it in items
            ],
        )
        query = f"""WITH {sql.tax_calc_ctes().lstrip()}
SELECT transaction_id, taxable_amount, state_tax, local_tax, tax_amount, is_exempt
FROM tax_final"""
        taxed = {
            r["transaction_id"]: (
                r["transaction_id"], r["taxable_amount"], r["state_tax"],
                r["local_tax"], r["tax_amount"], r["is_exempt"],
            )
            for r in _rows(con, _retarget(query, _txn_cte("items")))
        }
        lookups = [r for r in requests if r["kind"] == "rate"]
        con.execute("CREATE TABLE lookups (i INTEGER, state VARCHAR, city VARCHAR)")
        con.executemany(
            "INSERT INTO lookups VALUES (?, ?, ?)",
            [(i, r["state"], r["city"]) for i, r in enumerate(lookups)],
        )
        rates = _rows(con, f"""WITH {sql.dim_ctes().lstrip()}
SELECT l.i, sr.state_name,
  CASE WHEN lr.rate IS NOT NULL THEN CAST(sr.base_rate AS DOUBLE) + CAST(lr.rate AS DOUBLE)
       ELSE CAST(sr.avg_combined_rate AS DOUBLE) END AS rate
FROM lookups l JOIN state_rates sr ON sr.state_code = l.state
LEFT JOIN local_rates lr ON lr.state_code = l.state AND lr.jurisdiction_lc = lower(l.city)
ORDER BY l.i""")
    finally:
        con.close()
    lookup_answers = iter(rates)
    out = []
    for r in requests:
        if r["kind"] == "basket":
            out.append(sorted(taxed[it["transaction_id"]] for it in r["items"]))
        else:
            a = next(lookup_answers)
            out.append((r["state"], r["city"], a["rate"], a["state_name"]))
    return out
