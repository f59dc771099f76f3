"""Dimension loader: JSON seeds → small typed ``LocalRelation`` DataFrames.

The reference embeds its dimension data in code (rates.py:63-764,
compliance.py:98-164, refund_analyzer.py:71-92, calculator.py:96-113); here it
ships as versioned JSON seeds (see scripts/extract_seed_dims.py).  All dims
are KB-sized (≤ ~100 rows), so each one is a plan constant: a ``LocalRelation``
built from an Arrow table, typed by its ``schemas.*`` schema.  Its rows live
in the plan itself — no Python RDD, no Python worker, no cache entry — so a
``clearCache()`` cannot turn a dim back into per-action Python work.  The
engine joins no dim: its layers read the seeds as literal-map lookups
built from ``seed_rows``, and the frames serve callers and checks.

``Dims`` also exposes the raw Python rows; driver-side helpers (oracle SQL
generation, report rendering, the tax lookup maps) reuse them without
touching Spark.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Sequence
from dataclasses import dataclass
from decimal import Decimal
from functools import cache, lru_cache
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from . import schemas

SEED_DIR = Path(__file__).resolve().parent / "seeds"

_DECIMAL_FIELDS = {
    "base_rate",
    "max_local_rate",
    "avg_combined_rate",
    "rate",
    "revenue_threshold",
}


@lru_cache(maxsize=None)
def seed_rows(name: str) -> tuple[dict, ...]:
    """Load one seed table as a tuple of dicts (decimal fields converted)."""
    raw = json.loads((SEED_DIR / f"{name}.json").read_text())
    for row in raw:
        for k in list(row):
            if k in _DECIMAL_FIELDS and row[k] is not None:
                row[k] = Decimal(row[k])
    return tuple(raw)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a ``LocalRelation``
    typed exactly by ``schema`` (a ``StructType`` or a DDL string): the
    Arrow table is cast to the schema on the way in, and the optimized plan
    is the relation itself — no Python RDD, so no Python worker."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _df(spark: SparkSession, name: str, schema: StructType) -> DataFrame:
    rows = [tuple(r[f.name] for f in schema.fields) for r in seed_rows(name)]
    return local_frame(spark, rows, schema)


@dataclass(frozen=True)
class Dims:
    """The seven dimension DataFrames (SURVEY §1.1)."""

    state_rates: DataFrame
    local_rates: DataFrame
    state_exemptions: DataFrame
    category_aliases: DataFrame
    nexus_thresholds: DataFrame
    filing_due_day: DataFrame
    sol_years: DataFrame


@cache
def load_dims(spark: SparkSession) -> Dims:
    """The session's dims, built once per SparkSession (the cache key pins
    the session object, so a restarted session gets fresh frames)."""
    return Dims(
        state_rates=_df(spark, "state_rates", schemas.STATE_RATES_SCHEMA),
        local_rates=_df(spark, "local_rates", schemas.LOCAL_RATES_SCHEMA),
        state_exemptions=_df(
            spark, "state_exemptions", schemas.STATE_EXEMPTIONS_SCHEMA
        ),
        category_aliases=_df(
            spark, "category_aliases", schemas.CATEGORY_ALIASES_SCHEMA
        ),
        nexus_thresholds=_df(
            spark, "nexus_thresholds", schemas.NEXUS_THRESHOLDS_SCHEMA
        ),
        filing_due_day=_df(spark, "filing_due_day", schemas.FILING_DUE_DAY_SCHEMA),
        sol_years=_df(spark, "sol_years", schemas.SOL_YEARS_SCHEMA),
    )
