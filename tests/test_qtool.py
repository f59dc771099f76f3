"""``scripts/qtool.py`` warms every query up on the directory it times.

No Spark session: the query resolver and the session factory are replaced
by fakes that record the directory each query is built over.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path
from types import SimpleNamespace

import tax_compliance_engine_spark.session as session

QTOOL = Path(__file__).resolve().parent.parent / "scripts" / "qtool.py"


def _load_qtool():
    spec = importlib.util.spec_from_file_location("qtool", QTOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Frame:
    """Stands in for ``df.write.format(...).mode(...).save()``."""

    @property
    def write(self):
        return self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        pass


def test_time_warms_up_on_the_timed_directory(monkeypatch, tmp_path):
    qtool = _load_qtool()
    built_over: list[str] = []

    def query(_spark, sf_dir):
        built_over.append(sf_dir)
        return _Frame()

    fake_spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: None),
        sparkContext=SimpleNamespace(setJobDescription=lambda _d: None),
        stop=lambda: None,
    )
    sf_dir = str(tmp_path / "sf")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["qtool.py", "time", "1", "q"])
    monkeypatch.setattr(qtool, "resolve", lambda _name: query)
    monkeypatch.setattr(session, "get_spark", lambda **_kw: fake_spark)

    qtool.main()

    # one warm-up build, then the one timed run, both over SPARK_GRAFT_SF_DIR
    assert built_over == [sf_dir, sf_dir]
