"""`cli rates` renders from the seed rows alone: no Spark session starts.

Both forms run with ``cli._spark`` made to raise, and every state's rates,
exemptions and local jurisdictions are checked against ``seed_rows``.
"""

from __future__ import annotations

import re

import pytest

from tax_compliance_engine_spark import cli
from tax_compliance_engine_spark.dims import seed_rows


def _pct(v) -> str:
    return f"{float(v):.2%}"


@pytest.fixture(autouse=True)
def no_spark(monkeypatch):
    def refuse():
        raise AssertionError("cli rates started a Spark session")

    monkeypatch.setattr(cli, "_spark", refuse)


def _states() -> dict[str, dict]:
    return {r["state_code"]: r for r in seed_rows("state_rates")}


def _table_rows(text: str) -> list[list[str]]:
    """Body cells of a ROUNDED box table (header row dropped)."""
    rows = [
        [c.strip() for c in ln.strip("│").split("│")]
        for ln in text.splitlines()
        if ln.startswith("│")
    ]
    return rows[1:]


def test_rates_all_states_without_spark(capsys):
    cli.main(["rates"])
    rows = _table_rows(capsys.readouterr().out)
    states = _states()
    assert [r[0] for r in rows] == sorted(states)
    for code, name, base, combined, local in rows:
        s = states[code]
        assert name == s["state_name"]
        assert base == (_pct(s["base_rate"]) if s["base_rate"] > 0 else "None")
        assert combined == (
            _pct(s["avg_combined_rate"]) if s["avg_combined_rate"] > 0 else "-"
        )
        assert local == ("Y" if s["has_local_taxes"] else "")


def test_rates_every_state_without_spark(capsys):
    exemptions: dict[str, list[str]] = {}
    for r in seed_rows("state_exemptions"):
        exemptions.setdefault(r["state_code"], []).append(r["category"])
    locals_: dict[str, list[dict]] = {}
    for r in seed_rows("local_rates"):
        locals_.setdefault(r["state_code"], []).append(r)

    for code, s in _states().items():
        cli.main(["rates", "--state", code.lower()])
        out = capsys.readouterr().out
        profile, _, local_table = out.partition("Local Rates")
        body = [ln.strip("│ ") for ln in profile.splitlines()]
        assert f"{s['state_name']} ({code})" in body
        assert f"Base rate: {_pct(s['base_rate'])}" in body
        assert f"Avg combined rate: {_pct(s['avg_combined_rate'])}" in body
        assert f"Max local rate: {_pct(s['max_local_rate'])}" in body
        cats = sorted(exemptions.get(code, []))
        exempt_lines = [ln for ln in body if ln.startswith("Exemptions: ")]
        assert exempt_lines == (
            ["Exemptions: " + ", ".join(cats)] if cats else []
        ), code

        expected = [
            [
                r["jurisdiction"],
                _pct(r["rate"]),
                _pct(float(s["base_rate"]) + float(r["rate"])),
            ]
            for r in sorted(locals_.get(code, []), key=lambda r: r["jurisdiction"])
        ]
        # SIMPLE table: header, rule, then one line per jurisdiction
        lines = local_table.splitlines()
        rule = next((i for i, ln in enumerate(lines) if "─" in ln), len(lines))
        got = [
            re.split(r"\s{2,}", ln.strip())
            for ln in lines[rule + 1 :]
            if ln.strip()
        ]
        assert got == expected, code


def test_rates_unknown_state_exits_1(capsys):
    with pytest.raises(SystemExit) as exc:
        cli.main(["rates", "--state", "QQ"])
    assert exc.value.code == 1
    captured = capsys.readouterr()
    assert captured.out == ""
    assert captured.err.strip() == "Unknown state code: QQ"
