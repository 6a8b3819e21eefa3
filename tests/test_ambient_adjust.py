"""Mover detection in scripts/ambient_adjust.py."""

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "ambient_adjust.py",
)
_spec = importlib.util.spec_from_file_location("ambient_adjust", _PATH)
ambient_adjust = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ambient_adjust)


def test_open_movers_flags_both_directions():
    prev = {"slow": 2.0, "fast": 2.0, "tiny_fast": 0.4, "flat": 2.0, "na": 1.0}
    now = {"slow": 3.0, "fast": 1.0, "tiny_fast": 0.2, "flat": 2.1, "na": 0.0}
    per_query = {
        n: {"speedup_adjusted": (prev[n] / now[n]) if now[n] else None}
        for n in prev
    }
    movers = ambient_adjust.open_movers(per_query, prev, now, sorted(prev), 0.75)
    # slow: 0.67x; fast: 2x; tiny_fast: 2x but only 0.2 s faster (noise);
    # flat: 0.95x; na: no ratio
    assert movers == ["fast", "slow"]
    # the band is symmetric: 1/0.75 = 1.33x is the improvement cut-off
    assert ambient_adjust.open_movers(
        {"x": {"speedup_adjusted": 1.3}}, {"x": 2.6}, {"x": 2.0}, ["x"], 0.75
    ) == []
