"""Transaction source (SURVEY §2.1 S1/S2): CSV with the reference's
forgiving-parse contract, plus the partitioned results sink.

The reference (cli.py:32-67) parses the CSV row-at-a-time and *skips*
malformed rows (missing required field, bad date, bad decimal) with a
console warning, defaulting the optional fields.  Spark equivalent: an
explicit string-typed schema with ``mode=PERMISSIVE`` +
``columnNameOfCorruptRecord``, then a validity predicate that mirrors the
reference's exception sites; rejects are split off as a DataFrame (count
and inspect at scale instead of printing per-row warnings).

At 100 TB the scan is embarrassingly parallel: no shuffle, the validity
predicate and casts run inside whole-stage codegen, and the reject split
is two filters over one cached scan (or one pass with
``observe()``-based counting if only the count is needed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tax import normalize_transactions
from ..schemas import MONEY, TXN_CSV_SCHEMA


@dataclass(frozen=True)
class CsvScan:
    """Result of a transactions-CSV scan: valid normalized rows + rejects."""

    transactions: DataFrame  # TXN_SCHEMA surface, normalized
    rejects: DataFrame  # raw string columns + reject_reason


def _parsed(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.schema(TXN_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def scan_transactions_csv(spark: SparkSession, path: str) -> CsvScan:
    """Read a transactions CSV with the reference's skip-malformed contract.

    Validity mirrors the reference's exception sites (cli.py:51-66):
    required fields present, ISO-parsable date, castable decimals.
    """
    raw = _parsed(spark, path)

    # try_* variants: ANSI mode (Spark 4 default) makes to_date/cast THROW on
    # malformed input; the reference's contract is skip-with-warning instead.
    parsed_date = F.try_to_date("transaction_date", "yyyy-MM-dd")
    parsed_amount = F.col("amount").try_cast(MONEY)
    parsed_tax_paid = F.col("tax_paid").try_cast(MONEY)

    reject_reason = (
        F.when(F.col("_corrupt_record").isNotNull(), "malformed CSV row")
        .when(
            F.col("transaction_id").isNull() | (F.trim("transaction_id") == ""),
            "missing transaction_id",
        )
        .when(F.col("transaction_date").isNull(), "missing transaction_date")
        .when(parsed_date.isNull(), "invalid transaction_date")
        .when(F.col("amount").isNull(), "missing amount")
        .when(parsed_amount.isNull(), "invalid amount")
        .when(F.col("state").isNull() | (F.trim("state") == ""), "missing state")
        .when(
            F.col("tax_paid").isNotNull() & parsed_tax_paid.isNull(),
            "invalid tax_paid",
        )
    )

    flagged = raw.withColumn("reject_reason", reject_reason)
    rejects = flagged.filter(F.col("reject_reason").isNotNull())

    valid = (
        flagged.filter(F.col("reject_reason").isNull())
        .select(
            "transaction_id",
            parsed_date.alias("transaction_date"),
            parsed_amount.alias("amount"),
            "state",
            "city",
            "item_category",
            parsed_tax_paid.alias("tax_paid"),
        )
    )
    return CsvScan(transactions=normalize_transactions(valid), rejects=rejects)


def write_results_partitioned(
    results: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("state",),
    mode: str = "overwrite",
) -> None:
    """Scale-out sink: results partitioned by state (and optionally a date
    bucket) so downstream per-state reads prune partitions at the scan
    (SURVEY §4.2).  At 100 TB add a month column to the partition spec to
    bound per-directory file counts; state alone is 51 + unknowns."""
    results.write.partitionBy(*partition_by).mode(mode).parquet(path)
