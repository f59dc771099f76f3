"""Seeded input generator for the benchmark.

Everything the engine reads is written here from ``seed`` alone, so the same
seed always gives byte-identical inputs:

- ``close_inputs``: the monthly-close transactions CSV (the CLI's ``--file``
  contract: 7 string columns), with state skew, unknown states, known /
  unknown / blank cities, exempt categories and aliases with case and
  whitespace noise, ~5 years of dates around ``AS_OF`` (so the 3- and 4-year
  statutes of limitations split them), mostly-correct ``tax_paid`` with a few
  percent overpaid, and a planted number of malformed rows;
- ``quotes``: small baskets priced the way ``cli.cmd_calculate`` prices one
  item, plus rate-database lookups;
- the close's well-formed rows again as parquet files, the input of the
  streaming nexus monitor.

The tax math here only decides how much ``tax_paid`` to write; expected
results always come from the DuckDB oracle, never from this module.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Pinned analysis date: the CLI uses today(), which would change refund
# eligibility (and every digest) from one day to the next.
AS_OF = dt.date(2002, 6, 15)
GENERATED_DATE = AS_OF
DATE_SPAN_DAYS = 5 * 365
UNKNOWN_STATES = ("XQ", "ZZ")
HEAVY_STATES = {"CA": 0.16, "TX": 0.12, "NY": 0.09, "FL": 0.09}
UNKNOWN_SHARE = 0.004  # per unknown code
OVERPAID_SHARE = 0.03
CATEGORIES = (
    # (raw value as written, weight); None is a blank category
    ("grocery", 8), ("Groceries", 3), (" food ", 3), ("FOOD", 1),
    ("rx", 2), ("prescription_drug", 2), ("clothing", 5), ("Apparel ", 2),
    ("medical", 2), ("saas", 2), ("software", 2), ("electronics", 10),
    ("furniture", 6), ("general", 12), ("toys", 4), (None, 6),
)
UNKNOWN_CITY = "Faketown"
# Malformed-row kinds, one per reject branch of scan_transactions_csv that a
# well-formed CSV line can reach.  Field index → bad value.
_MALFORMED = (
    (1, "not-a-date"),
    (1, "2001-13-45"),
    (1, None),
    (2, "abc"),
    (2, None),
    (3, None),
    (0, None),
    (6, "n/a"),
)


def _seeds() -> dict[str, list[dict]]:
    from tax_compliance_engine_spark.dims import SEED_DIR

    return {
        n: json.loads((SEED_DIR / f"{n}.json").read_text())
        for n in ("state_rates", "local_rates", "state_exemptions", "category_aliases")
    }


class _World:
    """Seed dims indexed for vectorised generation."""

    def __init__(self) -> None:
        s = _seeds()
        self.states = sorted(r["state_code"] for r in s["state_rates"])
        rates = {r["state_code"]: r for r in s["state_rates"]}
        self.base = np.array([float(rates[c]["base_rate"]) for c in self.states])
        self.has_local = np.array([bool(rates[c]["has_local_taxes"]) for c in self.states])
        self.avg = np.array([float(rates[c]["avg_combined_rate"]) for c in self.states])
        self.max_local = np.array([float(rates[c]["max_local_rate"]) for c in self.states])
        self.cities: dict[str, list[tuple[str, float]]] = {}
        for r in s["local_rates"]:
            self.cities.setdefault(r["state_code"], []).append(
                (r["jurisdiction"], float(r["rate"]))
            )
        alias = {r["alias"]: r["category"] for r in s["category_aliases"]}
        exempt = {(r["state_code"], r["category"]) for r in s["state_exemptions"]}
        self.cat_values = [c for c, _ in CATEGORIES]
        w = np.array([w for _, w in CATEGORIES], dtype=float)
        self.cat_p = w / w.sum()
        # exempt[state_idx, cat_idx] after the engine's lower(trim) alias map
        self.exempt = np.zeros((len(self.states), len(CATEGORIES)), dtype=bool)
        for j, raw in enumerate(self.cat_values):
            mapped = alias.get(raw.strip().lower()) if raw else None
            for i, code in enumerate(self.states):
                self.exempt[i, j] = (code, mapped) in exempt
        codes = self.states + list(UNKNOWN_STATES)
        p = np.full(len(codes), 0.0)
        rest = 1.0 - sum(HEAVY_STATES.values()) - UNKNOWN_SHARE * len(UNKNOWN_STATES)
        light = [c for c in self.states if c not in HEAVY_STATES]
        for i, c in enumerate(codes):
            if c in HEAVY_STATES:
                p[i] = HEAVY_STATES[c]
            elif c in UNKNOWN_STATES:
                p[i] = UNKNOWN_SHARE
            else:
                p[i] = rest / len(light)
        self.codes = codes
        self.code_p = p / p.sum()


def _rows(rng: np.random.Generator, world: _World, n: int) -> dict[str, np.ndarray]:
    """``n`` well-formed transactions as column arrays (canonical values)."""
    n_known = len(world.states)
    sidx = rng.choice(len(world.codes), size=n, p=world.code_p)
    known = sidx < n_known
    ks = np.where(known, sidx, 0)

    # city: 70% a real jurisdiction of the state (when it has any),
    # 15% unknown, 15% blank
    u = rng.random(n)
    city = np.full(n, None, dtype=object)
    local = np.zeros(n)
    city_known = np.zeros(n, dtype=bool)
    for i, code in enumerate(world.codes):
        m = sidx == i
        if not m.any():
            continue
        juris = world.cities.get(code, [])
        pick = m & (u < 0.70)
        if juris:
            j = rng.integers(0, len(juris), size=int(pick.sum()))
            names = np.array([c for c, _ in juris], dtype=object)[j]
            # case noise: the engine matches cities case-insensitively
            upper = rng.random(len(j)) < 0.1
            names = np.where(upper, np.char.upper(names.astype(str)).astype(object), names)
            city[pick] = names
            local[pick] = np.array([r for _, r in juris])[j]
            city_known[pick] = True
        else:
            city[pick] = UNKNOWN_CITY
        city[m & (u >= 0.70) & (u < 0.85)] = UNKNOWN_CITY

    cat = rng.choice(len(CATEGORIES), size=n, p=world.cat_p)
    cat_exempt = known & world.exempt[ks, cat]

    days = rng.integers(0, DATE_SPAN_DAYS + 1, size=n)
    date = np.datetime64(AS_OF) - days.astype("timedelta64[D]")

    cents = np.round(np.exp(rng.normal(4.2, 1.1, size=n)) * 100).astype(np.int64) + 99

    base = np.where(known, world.base[ks], 0.0)
    has_local = np.where(known, world.has_local[ks], False)
    avg_local = np.maximum(np.where(known, world.avg[ks], 0.0) - base, 0.0)
    rate = base + np.where(city_known, local, np.where(has_local, avg_local, 0.0))
    # Mostly correct: floor of the combined tax never exceeds the engine's
    # per-component HALF_UP sum, so these rows are not overpayments.
    paid = np.floor(cents * rate - 1e-6).clip(min=0).astype(np.int64)
    paid[~known | cat_exempt] = 0
    over = rng.random(n) < OVERPAID_SHARE
    max_rate = base + np.where(known, world.max_local[ks], 0.0) + 0.01
    paid[over] = np.ceil(cents[over] * max_rate[over]).astype(np.int64) + 1

    return {
        "sidx": sidx,
        "city": city,
        "cat": cat,
        "date": date,
        "cents": cents,
        "paid": paid,
    }


def _money(cents: np.ndarray) -> pa.Array:
    whole = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _with_nulls(values: pa.Array, rows: dict[int, str | None]) -> pa.Array:
    """``values`` with the given positions replaced (``None`` → null)."""
    if not rows:
        return values
    out = values.to_numpy(zero_copy_only=False).astype(object)
    for i, v in rows.items():
        out[i] = v
    return pa.array(out, type=pa.string())


STREAM_SCHEMA = pa.schema([
    ("transaction_id", pa.string()),
    ("transaction_date", pa.date32()),
    ("amount", pa.decimal128(18, 2)),
    ("state", pa.string()),
    ("city", pa.string()),
    ("item_category", pa.string()),
    ("tax_paid", pa.decimal128(18, 2)),
    ("exemption_certificate", pa.string()),
    ("customer_type", pa.string()),
    ("pricing_model", pa.string()),
])


def close_inputs(csv_path: Path, parquet_dir: Path, seed: int, n_rows: int,
                 n_malformed: int, n_files: int) -> None:
    """Write the monthly-close CSV, and its well-formed rows again as
    ``n_files`` parquet files for the streaming nexus monitor."""
    rng = np.random.default_rng([seed, 1])
    world = _World()
    r = _rows(rng, world, n_rows)
    codes = np.array(world.codes, dtype=object)[r["sidx"]]
    # state noise: lower case / padded, which normalize_transactions undoes
    noise = rng.random(n_rows)
    codes = np.where(noise < 0.01, np.char.lower(codes.astype(str)).astype(object), codes)
    codes = np.where((noise >= 0.01) & (noise < 0.02), " " + codes.astype(str).astype(object) + " ", codes)
    ids = pc.binary_join_element_wise(
        "T", pc.utf8_lpad(pc.cast(pa.array(np.arange(n_rows)), pa.string()), 8, "0"), ""
    )
    cols = [
        ids,
        pa.array(np.datetime_as_string(r["date"], unit="D")),
        _money(r["cents"]),
        pa.array(codes, type=pa.string()),
        pa.array(r["city"], type=pa.string()),
        pa.array(np.array(world.cat_values, dtype=object)[r["cat"]], type=pa.string()),
        _money(r["paid"]),
    ]
    bad_rows = np.sort(rng.choice(n_rows, size=n_malformed, replace=False))
    patches: dict[int, dict[int, str | None]] = {}
    for k, row in enumerate(bad_rows):
        field, value = _MALFORMED[k % len(_MALFORMED)]
        patches.setdefault(field, {})[int(row)] = value
    cols = [_with_nulls(c, patches.get(i, {})) for i, c in enumerate(cols)]
    names = ["transaction_id", "transaction_date", "amount", "state", "city",
             "item_category", "tax_paid"]
    csv_path.parent.mkdir(parents=True, exist_ok=True)
    pacsv.write_csv(
        pa.table(dict(zip(names, cols))), csv_path,
        pacsv.WriteOptions(include_header=True, quoting_style="needed"),
    )

    good = np.ones(n_rows, dtype=bool)
    good[bad_rows] = False
    none = pa.nulls(n_rows, pa.string())
    typed = pa.table(
        [ids, pa.array(r["date"]), pc.cast(_money(r["cents"]), pa.decimal128(18, 2)),
         cols[3], cols[4], cols[5], pc.cast(_money(r["paid"]), pa.decimal128(18, 2)),
         none, none, none],
        schema=STREAM_SCHEMA,
    ).filter(pa.array(good))
    parquet_dir.mkdir(parents=True, exist_ok=True)
    step = -(-typed.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(typed.slice(f * step, step), parquet_dir / f"part-{f:05d}.parquet")


def quotes(seed: int, n: int) -> list[dict]:
    """``n`` requests: 90% baskets of 1-5 items, 10% rate lookups.

    The request *shape* repeats every 10 requests (basket sizes 1..5, 1..4,
    then a lookup) whatever the seed, so every seed offers the same load;
    the seed picks what is in each request."""
    rng = np.random.default_rng([seed, 2])
    world = _World()
    out: list[dict] = []
    for q in range(n):
        if q % 10 == 9:
            code = world.states[int(rng.integers(0, len(world.states)))]
            juris = world.cities.get(code, [])
            city = juris[int(rng.integers(0, len(juris)))][0] if juris and rng.random() < 0.6 else None
            out.append({"kind": "rate", "state": code, "city": city})
            continue
        k = 1 + q % 10 % 5
        r = _rows(rng, world, k)
        customer = str(rng.choice(["retail", "retail", "retail", "retail", "wholesale", "exempt"]))
        cert = f"CERT-{q}" if rng.random() < 0.05 else None
        pricing = "inclusive" if rng.random() < 0.2 else "exclusive"
        items = []
        for i in range(k):
            items.append({
                "transaction_id": f"Q{q}-{i}",
                "amount": int(r["cents"][i]),
                "state": world.codes[int(r["sidx"][i])],
                "city": r["city"][i],
                "item_category": world.cat_values[int(r["cat"][i])],
                "exemption_certificate": cert,
                "customer_type": customer,
                "pricing_model": pricing,
            })
        out.append({"kind": "basket", "items": items})
    return out
