"""The measurement harness (scripts/harness.py) is the only place the
repo's tools build a session or pick registry entries."""

import re
from pathlib import Path

import pytest

import harness

REPO = Path(__file__).resolve().parents[1]


def test_sessions_come_from_build_session():
    """Every session is built by ``sources/session.build_session`` (the
    benchmark's own ``perfbench/`` is left out): a hand-built session
    drifts from the recommended confs the engine is designed around."""
    builders = sorted(
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if "perfbench" not in p.relative_to(REPO).parts
        and p != Path(__file__).resolve()
        and "SparkSession.builder" in p.read_text(encoding="utf-8")
    )
    assert builders == ["pyspark_data_quality_spark/sources/session.py"]


def test_entries_prefix_optional_and_unknown_rejected():
    everything = harness.entries([])
    assert list(harness.entries(["winsorize", "dq_zipf"])) == [
        n for n in everything if n in ("dq_winsorize", "dq_zipf")
    ]
    with pytest.raises(SystemExit, match=re.escape("['dq_nope']")):
        harness.entries(["winsorize", "nope"])
