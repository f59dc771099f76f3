"""Rate-database API parity tests — the reference's test_rates.py golden
assertions (/root/reference/tests/test_rates.py) plus a full cross-check of
every lookup against the reference library."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from tax_compliance_engine_spark.rates_api import RateDatabase


@pytest.fixture(scope="module")
def db() -> RateDatabase:
    return RateDatabase()


needs_reference = pytest.mark.skipif(
    not Path("/root/reference").exists(),
    reason="/root/reference is absent: the reference library is needed",
)


@pytest.fixture(scope="module")
def ref_db():
    sys.path.insert(0, "/root/reference")
    from tax_engine.rates import TaxRateDatabase

    yield TaxRateDatabase()
    sys.path.remove("/root/reference")


def test_known_base_rates(db):
    # test_rates.py:21-47
    assert db.get_base_rate("TX") == 0.0625
    assert db.get_base_rate("CA") == 0.0725
    assert db.get_base_rate("NY") == 0.04
    for code in ("OR", "DE", "MT", "NH"):
        assert db.get_base_rate(code) == 0.0


def test_no_sales_tax_states_list(db):
    no_tax = db.no_sales_tax_states()
    for code in ["OR", "DE", "MT", "NH"]:
        assert code in no_tax
    assert "TX" not in no_tax
    assert "CA" not in no_tax


def test_alaska_zero_base_but_local(db):
    state = db.get_state("AK")
    assert state.base_rate == 0.0
    assert state.has_local_taxes is True


def test_all_51_jurisdictions(db):
    assert db.state_count == 51


def test_unknown_state_raises(db):
    with pytest.raises(ValueError, match="Unknown state code"):
        db.get_base_rate("ZZ")
    with pytest.raises(ValueError, match="Unknown state code"):
        db.get_combined_rate("ZZ")
    with pytest.raises(ValueError, match="Unknown state code"):
        db.is_exempt("ZZ", "grocery")
    assert db.get_state("ZZ") is None
    assert db.get_local_rate("ZZ", "Nowhere") is None


def test_case_insensitive_lookup(db):
    assert db.get_base_rate("tx") == db.get_base_rate("TX")


@needs_reference
def test_combined_rate_city_vs_fallback(db, ref_db):
    # city hit: base + city rate; miss/None: avg combined (rates.py:807-824)
    assert db.get_combined_rate("TX", "Houston") == ref_db.get_combined_rate(
        "TX", "Houston"
    )
    assert db.get_combined_rate("TX", "noplace") == ref_db.get_combined_rate(
        "TX", "noplace"
    )
    assert db.get_combined_rate("TX") == ref_db.get_combined_rate("TX")


@needs_reference
def test_full_parity_with_reference(db, ref_db):
    """Every state: rates, flags, exemption sets, local jurisdictions."""
    ref_states = {s.state_code: s for s in ref_db.all_states()}
    assert sorted(ref_states) == [s.state_code for s in db.all_states()]
    for code, ref in ref_states.items():
        mine = db.get_state(code)
        assert mine.base_rate == ref.base_rate, code
        assert mine.avg_combined_rate == ref.avg_combined_rate, code
        assert mine.max_local_rate == ref.max_local_rate, code
        assert mine.has_local_taxes == ref.has_local_taxes, code
        assert sorted(mine.exemptions) == sorted(
            e.value for e in ref.exemptions
        ), code
        ref_locals = {
            loc.jurisdiction: loc.rate for loc in ref.local_rates
        }
        mine_locals = {
            loc["jurisdiction"]: float(loc["rate"]) for loc in mine.local_rates
        }
        assert mine_locals == ref_locals, code


@needs_reference
def test_top_k_parity(db, ref_db):
    # test_rates.py:151-166
    assert [s.state_code for s in db.highest_rate_states(10)] == [
        s.state_code for s in ref_db.highest_rate_states(10)
    ]
    assert [s.state_code for s in db.lowest_rate_states(5)] == [
        s.state_code for s in ref_db.lowest_rate_states(5)
    ]


@needs_reference
def test_states_exempting_parity(db, ref_db):
    sys.path.insert(0, "/root/reference")
    from tax_engine.rates import ExemptionCategory

    for cat in ExemptionCategory:
        assert sorted(db.states_exempting(cat.value)) == sorted(
            ref_db.states_exempting(cat)
        ), cat
