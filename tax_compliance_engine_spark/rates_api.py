"""Rate-database lookup API (reference TaxRateDatabase,
/root/reference/tax_engine/rates.py:766-880).

Driver-side lookup layer over the seed rows (``dims.seed_rows``, the same
rows the Spark plans read): the seeds are ≤ ~100 rows, so they are indexed
into dicts once and served from memory — the same access pattern the
reference uses, with no Spark session and no job.  ``cli rates`` renders
from it.  Semantics parity notes:

- ``get_base_rate`` / ``get_combined_rate`` / ``is_exempt`` RAISE
  ``ValueError`` on unknown states (rates.py:804-806, 818-819, 844-845);
  the *pipeline* path (operators/tax.py) warns instead — that asymmetry is
  the reference's (SURVEY §2.2 P4) and is preserved here.
- ``get_combined_rate`` returns base + city rate on a city hit, else the
  state's average combined rate (rates.py:807-824).
- Rates return as float (the reference stores floats); the Spark dims hold
  exact decimals, converted at this boundary only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .dims import seed_rows


@dataclass(frozen=True)
class StateRateProfile:
    state_code: str
    state_name: str
    base_rate: float
    has_local_taxes: bool
    max_local_rate: float
    avg_combined_rate: float
    notes: str
    exemptions: tuple[str, ...] = ()
    local_rates: tuple[dict, ...] = field(default_factory=tuple)


class RateDatabase:
    """Indexed view of the seed dims (the same rows the Spark plans read)."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        # ``spark`` is accepted and unused: the seeds are the single source
        # of truth for dims.load_dims too, so API answers and plan results
        # can never disagree
        exemptions: dict[str, list[str]] = {}
        for r in seed_rows("state_exemptions"):
            exemptions.setdefault(r["state_code"], []).append(r["category"])
        locals_: dict[str, list[dict]] = {}
        for r in seed_rows("local_rates"):
            locals_.setdefault(r["state_code"], []).append(dict(r))
        self._states: dict[str, StateRateProfile] = {}
        for r in seed_rows("state_rates"):
            code = r["state_code"]
            self._states[code] = StateRateProfile(
                state_code=code,
                state_name=r["state_name"],
                base_rate=float(r["base_rate"]),
                has_local_taxes=bool(r["has_local_taxes"]),
                max_local_rate=float(r["max_local_rate"]),
                avg_combined_rate=float(r["avg_combined_rate"]),
                notes=r.get("notes") or "",
                exemptions=tuple(sorted(exemptions.get(code, []))),
                local_rates=tuple(locals_.get(code, [])),
            )

    @property
    def state_count(self) -> int:
        return len(self._states)

    def get_state(self, state_code: str) -> StateRateProfile | None:
        return self._states.get(state_code.upper())

    def get_base_rate(self, state_code: str) -> float:
        state = self.get_state(state_code)
        if state is None:
            raise ValueError(f"Unknown state code: {state_code}")
        return state.base_rate

    def get_combined_rate(self, state_code: str, city: str | None = None) -> float:
        state = self.get_state(state_code)
        if state is None:
            raise ValueError(f"Unknown state code: {state_code}")
        if city:
            for local in state.local_rates:
                if local["jurisdiction"].lower() == city.lower():
                    return state.base_rate + float(local["rate"])
        return state.avg_combined_rate

    def get_local_rate(self, state_code: str, city: str) -> dict | None:
        state = self.get_state(state_code)
        if state is None:
            return None
        for local in state.local_rates:
            if local["jurisdiction"].lower() == city.lower():
                return local
        return None

    def is_exempt(self, state_code: str, category: str) -> bool:
        state = self.get_state(state_code)
        if state is None:
            raise ValueError(f"Unknown state code: {state_code}")
        return category in state.exemptions

    def no_sales_tax_states(self) -> list[str]:
        return [c for c, s in self._states.items() if s.base_rate == 0.0]

    def states_exempting(self, category: str) -> list[str]:
        return [c for c, s in self._states.items() if category in s.exemptions]

    def all_states(self) -> list[StateRateProfile]:
        return [self._states[k] for k in sorted(self._states)]

    def highest_rate_states(self, n: int = 10) -> list[StateRateProfile]:
        return sorted(
            self._states.values(),
            key=lambda s: s.avg_combined_rate,
            reverse=True,
        )[:n]

    def lowest_rate_states(self, n: int = 10) -> list[StateRateProfile]:
        taxed = [s for s in self._states.values() if s.base_rate > 0]
        return sorted(taxed, key=lambda s: s.avg_combined_rate)[:n]
