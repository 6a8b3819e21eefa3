"""Mover detection in scripts/ambient_adjust.py, and the bench-artifact
reader it shares with bench.py (scripts/harness.py)."""

import ambient_adjust
import harness


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


def test_fill_from_full_picks_the_core_count_map(tmp_path):
    import json

    docs = tmp_path / "docs"
    docs.mkdir()
    # no cpus stamp: measured at the standard 32 cores
    (docs / "bench_full_sf0.1.json").write_text(json.dumps({
        "round": 16, "sf": 0.1, "queries": {"dq_a": 9.0, "dq_b": 32.0},
    }))
    (docs / "bench_full_sf0.1_c8.json").write_text(json.dumps({
        "round": 16, "sf": 0.1, "cpus": 8,
        "queries": {"dq_a": 9.0, "dq_b": 8.0},
    }))
    bench = tmp_path / "BENCH_r16_c8.json"
    bench.write_text(json.dumps({
        "cpus": 8, "parsed": {"sf": 0.1, "queries": {"a": 1.0}},
    }))
    queries, sf, rnd, cpus = harness.load_bench(str(bench))
    assert (queries, sf, rnd, cpus) == ({"dq_a": 1.0}, 0.1, 16, 8)

    def fill(c):
        return harness.fill_from_full({"dq_a": 1.0}, 0.1, 16, c, str(tmp_path))

    # the BENCH value stays authoritative; the tail comes from the map
    # measured at the same core count
    assert fill(8) == {"dq_a": 1.0, "dq_b": 8.0}
    assert fill(32) == {"dq_a": 1.0, "dq_b": 32.0}
    assert fill(16) is None  # no map at that core count
    # a map whose cpus stamp disagrees with its name is not used
    (docs / "bench_full_sf0.1_c8.json").write_text(json.dumps({
        "round": 16, "sf": 0.1, "queries": {"dq_b": 8.0},
    }))
    assert fill(8) is None
