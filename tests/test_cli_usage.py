"""CLI usage errors exit with status 1 before a Spark session starts.

Each command runs with ``cli._spark`` made to raise, so a usage check that
came after the session start would fail here instead of exiting.
"""

from __future__ import annotations

import pytest

from tax_compliance_engine_spark import cli


@pytest.fixture(autouse=True)
def no_spark(monkeypatch):
    def refuse():
        raise AssertionError("a usage error started a Spark session")

    monkeypatch.setattr(cli, "_spark", refuse)


@pytest.mark.parametrize(
    "argv, message",
    [
        (["compliance"], "Provide --file"),
        (["calculate"], "Provide --amount and --state, or --file"),
        (["calculate", "--amount", "100"], "Provide --amount and --state, or --file"),
        (["calculate", "--state", "TX"], "Provide --amount and --state, or --file"),
    ],
    ids=["compliance", "calculate", "calculate-amount-only", "calculate-state-only"],
)
def test_usage_error_exits_before_spark(capsys, argv, message):
    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code == 1
    out = capsys.readouterr()
    assert out.err.strip() == message
    assert out.out == ""
