"""Local replica of the driver's t2 check: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB over the same parquet dir; compare
row counts, column name+type classes, and BIT-EXACT order-insensitive values.

Strictness matches the driver (which hashes canonicalized values):
- floats compare by shortest-round-trip repr (bit-exact for float64) — no
  ``%.10g`` smoothing, so a 1-ULP engine divergence fails here too;
- every cell carries its type class tag, so an int column on one side and a
  Decimal/HUGEINT column on the other is a dtype mismatch, not a silent
  string-equal pass (this is exactly the round-1 HUGEINT bug class);
- column dtype classes come from Arrow on BOTH sides (``df.toArrow()`` /
  duckdb ``.arrow()``), the same representation the driver canonicalizes.

Oracle entries with no queries() registration (kept for reinstatement under
the 50-slot cap) are still checked: the same-named function is looked up in
plans.queries / plans.queries_dataops.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def type_class(t: pa.DataType) -> str:
    """Canonical dtype class: width-insensitive ints, everything else kept
    apart (int vs decimal vs float32 vs float64 are driver-visible)."""
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        # field-wise recursion: nullability is not a value-semantics
        # difference (Spark marks posexplode positions non-null, DuckDB
        # exports everything nullable) and int widths class-canonicalize
        # like top-level columns
        fields = ", ".join(
            f"{t.field(i).name}: {type_class(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{fields}>"
    return str(t)


def norm_cell(v) -> str:
    """Bit-exact, type-tagged cell canonicalization."""
    if v is None:
        return "null"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"  # repr round-trips float64 exactly
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return f"s:{v}"


def table_summary(tbl: pa.Table) -> tuple[list[str], list[str], list[tuple]]:
    """(column names, per-column type classes, name-sorted normalized rows)."""
    names = tbl.column_names
    classes = [type_class(f.type) for f in tbl.schema]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [tbl.column(i).to_pylist() for i in order]
    rows = sorted(
        tuple(norm_cell(col[r]) for col in cols) for r in range(tbl.num_rows)
    )
    return names, classes, rows


def extra_spark_fns() -> dict:
    """Spark callables for oracle_sql() entries not registered in queries()
    (names displaced by the driver's 50-slot cap but kept verifiable)."""
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd

    fns = {}
    for mod in (q, qd):
        for name in dir(mod):
            if not name.startswith("_") and callable(getattr(mod, name)):
                fns.setdefault(name, getattr(mod, name))
    return fns


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from tax_compliance_engine_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        # every fixture table is one parquet file
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = dict(entry.queries())
    oracles = entry.oracle_sql()
    extras = extra_spark_fns()
    for name in oracles:
        if name not in queries and name in extras:
            queries[name] = extras[name]

    # Planner-geometry twins travel with scale: the Spark side sizes its
    # LSH geometry from a runtime corpus-count probe, so when this dir's
    # embedding count differs from the 500-embedding fixtures the static
    # entries were generated for, regenerate those twins at THIS count.
    from tax_compliance_engine_spark.plans import oracle_dataops as od

    emb_count = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    if emb_count != od.ORACLE_EMB_COUNT:
        for name, gen in od.GEOMETRY_PARAMETRIC_SQL.items():
            if name in oracles:
                oracles[name] = gen(emb_count)
        print(
            f"note: planner twins regenerated for n_docs={emb_count} "
            f"(fixture default {od.ORACLE_EMB_COUNT})"
        )

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            stbl = fn(spark, sf_dir).toArrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK   {name}: rows-only ({stbl.num_rows} rows, no oracle)")
            continue
        try:
            dtbl = con.execute(oracles[name]).arrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue

        s_names, s_classes, s_rows = table_summary(stbl)
        d_names, d_classes, d_rows = table_summary(dtbl)
        if sorted(s_names) != sorted(d_names):
            print(
                f"FAIL {name}: columns differ\n  spark: {sorted(s_names)}\n  duck:  {sorted(d_names)}"
            )
            failures.append(name)
            continue
        s_sig = dict(zip(s_names, s_classes))
        d_sig = dict(zip(d_names, d_classes))
        if s_sig != d_sig:
            diffs = {
                c: (s_sig[c], d_sig[c]) for c in s_sig if s_sig[c] != d_sig[c]
            }
            print(f"FAIL {name}: dtype classes differ (spark, duck): {diffs}")
            failures.append(name)
            continue
        if len(s_rows) != len(d_rows):
            print(
                f"FAIL {name}: row count {len(s_rows)} (spark) vs {len(d_rows)} (duck)"
            )
            failures.append(name)
            continue
        if s_rows != d_rows:
            ndiff = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
            print(f"FAIL {name}: {ndiff}/{len(s_rows)} rows differ; first diff:")
            for a, b in zip(s_rows, d_rows):
                if a != b:
                    print(f"  spark: {a}\n  duck:  {b}")
                    break
            failures.append(name)
        else:
            print(f"OK   {name}: {len(s_rows)} rows match")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
