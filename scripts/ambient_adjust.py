"""Mechanized ambient adjudication (r15 verdict item 8).

This host shows hours-long degraded phases (BASELINE.md): raw bench
totals whipsaw ±20% with host phase, so a raw per-query "speedup" table
conflates real movers with ambient drift. The repo's established
protocol separates them with the UNTOUCHED-ENTRY CONTROL: entries whose
code the round never touched should time identically between two runs,
so their aggregate ratio IS the ambient factor, and every touched
entry's raw ratio divides by it.

This script computes that mechanically instead of by hand in
BASELINE.md prose:

    python scripts/ambient_adjust.py \
        --now BENCH_r16.json --prev BENCH_r15.json \
        --touched docs/touched_r16.txt [--markdown]

- ``--now`` / ``--prev``: driver bench artifacts (or any file whose
  JSON carries ``{"parsed": {"queries": {...}}}`` or a bare
  ``{"queries": {...}}``). Suite-line maps are 1-decimal and truncated
  past the driver's ~1900-char budget; when a sibling
  ``docs/bench_full_sf{sf}.json`` carries the same round tag, its
  full-precision map fills the truncated tail (the BENCH file stays
  authoritative for shared keys — same contract as bench.py's
  _prev_bench).
- ``--touched``: newline-separated entry names (dq_ prefix optional)
  the round's diff touched; everything else is the control group.

Output (JSON to stdout; ``--markdown`` renders the per-query table):
ambient factor (untouched sum-ratio and geomean), raw + adjusted
per-query ratios, touched/untouched geomeans, and the >25% movers (in
either direction) that REMAIN suspicious after adjustment — the short
list that still needs an interleaved A/B (BASELINE.md protocol) before
being believed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys


def _norm(name: str) -> str:
    return name if name.startswith("dq_") else f"dq_{name}"


def _load_queries(path: str) -> tuple[dict[str, float], float | None, int | None]:
    """(queries, sf, round) from a BENCH_r{N}.json / bench_full /
    raw-suite-line file; query keys normalized to the dq_ prefix."""
    with open(path) as f:
        raw = json.load(f)
    data = raw.get("parsed", raw) or {}
    queries = data.get("queries") or {}
    sf = data.get("sf")
    rnd = data.get("round")
    if rnd is None:
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path))
        if m:
            rnd = int(m.group(1))
    return ({_norm(k): float(v) for k, v in queries.items()}, sf, rnd)


def _fill_from_full(
    queries: dict[str, float], sf: float | None, rnd: int | None,
    repo_dir: str,
) -> dict[str, float]:
    """Restore the driver-truncated tail from docs/bench_full_sf{sf}.json
    when the round tags line up; shared keys keep the BENCH values."""
    if sf is None or rnd is None:
        return queries
    path = os.path.join(repo_dir, "docs", f"bench_full_sf{sf:g}.json")
    try:
        with open(path) as f:
            full = json.load(f)
    except (OSError, ValueError):
        return queries
    if full.get("round") != rnd or full.get("sf") != sf:
        return queries
    filled = {_norm(k): float(v) for k, v in full.get("queries", {}).items()}
    filled.update(queries)
    return filled


def _geomean(ratios: list[float]) -> float | None:
    ratios = [r for r in ratios if r > 0]
    if not ratios:
        return None
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios))


_MIN_DELTA_S = 0.3  # sub-noise absolute deltas are excluded


def open_movers(
    per_query: dict, prev_q: dict[str, float], now_q: dict[str, float],
    names: list[str], threshold: float,
) -> list[str]:
    """Entries of ``names`` whose adjusted speedup is below ``threshold``
    (a slowdown) or above ``1/threshold`` (a speedup), and whose raw time
    moved by more than ``_MIN_DELTA_S`` seconds the same way: sub-noise
    absolute deltas are excluded in both directions."""
    out = []
    for n in names:
        adj = per_query[n]["speedup_adjusted"]
        if adj is None:
            continue
        slower = adj < threshold and now_q[n] - prev_q[n] > _MIN_DELTA_S
        faster = adj > 1 / threshold and prev_q[n] - now_q[n] > _MIN_DELTA_S
        if slower or faster:
            out.append(n)
    return sorted(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--now", required=True)
    ap.add_argument("--prev", required=True)
    ap.add_argument("--touched", required=True,
                    help="file of touched entry names, one per line "
                         "(#-comments ok)")
    ap.add_argument("--markdown", action="store_true")
    ap.add_argument("--suspect-threshold", type=float, default=0.75,
                    help="adjusted speedup below this (or above 1/x) is "
                         "listed as still-open (default 0.75 = >25%% mover)")
    args = ap.parse_args()

    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    now_q, now_sf, now_r = _load_queries(args.now)
    prev_q, prev_sf, prev_r = _load_queries(args.prev)
    now_q = _fill_from_full(now_q, now_sf, now_r, repo_dir)
    prev_q = _fill_from_full(prev_q, prev_sf, prev_r, repo_dir)
    if now_sf is not None and prev_sf is not None and now_sf != prev_sf:
        print(f"ERROR: sf mismatch now={now_sf} prev={prev_sf}",
              file=sys.stderr)
        sys.exit(2)

    with open(args.touched) as f:
        touched = {
            _norm(ln.strip()) for ln in f
            if ln.strip() and not ln.lstrip().startswith("#")
        }

    common = sorted(set(now_q) & set(prev_q))
    untouched = [n for n in common if n not in touched]
    touched_common = [n for n in common if n in touched]

    # ambient factor: how much the CONTROL group (code unchanged)
    # inflated between the two runs. Sum-ratio weights by wall time
    # (the suite-total view); geomean weights each entry equally.
    u_prev = sum(prev_q[n] for n in untouched)
    u_now = sum(now_q[n] for n in untouched)
    ambient_sum = (u_now / u_prev) if u_prev > 0 else None
    ambient_geo = _geomean(
        [now_q[n] / prev_q[n] for n in untouched if prev_q[n] > 0]
    )
    # adjust with the sum-ratio (time-weighted: one stalled sub-second
    # entry can't drag the whole factor the way a geomean outlier can)
    factor = ambient_sum or 1.0

    per_query = {}
    for n in common:
        p, c = prev_q[n], now_q[n]
        raw = p / c if c > 0 else None
        adj = raw * factor if raw is not None else None
        per_query[n] = {
            "prev": round(p, 3), "now": round(c, 3),
            "speedup_raw": round(raw, 3) if raw else None,
            "speedup_adjusted": round(adj, 3) if adj else None,
            "touched": n in touched,
        }

    def _geo_of(names):
        return _geomean(
            [prev_q[n] / now_q[n] for n in names if now_q[n] > 0]
        )

    movers = open_movers(
        per_query, prev_q, now_q, touched_common, args.suspect_threshold
    )

    out = {
        "n_common": len(common),
        "n_touched": len(touched_common),
        "n_untouched": len(untouched),
        "ambient_factor_sum": round(ambient_sum, 4) if ambient_sum else None,
        "ambient_factor_geomean": (
            round(ambient_geo, 4) if ambient_geo else None
        ),
        "geomean_raw_all": _round(_geo_of(common)),
        "geomean_raw_touched": _round(_geo_of(touched_common)),
        "geomean_raw_untouched": _round(_geo_of(untouched)),
        "geomean_adjusted_touched": _round(
            (_geo_of(touched_common) or 0) * factor or None
        ),
        "suite_prev": round(sum(prev_q[n] for n in common), 2),
        "suite_now": round(sum(now_q[n] for n in common), 2),
        "open_movers_after_adjustment": movers,
        "per_query": per_query,
    }
    print(json.dumps(out, indent=1))
    if args.markdown:
        print("\n| query | prev s | now s | raw | adjusted | touched |",
              file=sys.stderr)
        print("|---|---|---|---|---|---|", file=sys.stderr)
        for n in common:
            q = per_query[n]
            print(
                f"| {n} | {q['prev']} | {q['now']} | {q['speedup_raw']} "
                f"| {q['speedup_adjusted']} | "
                f"{'yes' if q['touched'] else ''} |",
                file=sys.stderr,
            )


def _round(v, nd: int = 4):
    return round(v, nd) if v else None


if __name__ == "__main__":
    main()
