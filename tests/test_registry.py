"""Certification-window registry invariants (no Spark session needed).

The driver certifies exactly the FIRST 50 entries of ``queries()``; these
checks fail the suite loudly if an entry is added without updating the
window lists (the round-3 failure mode: 15 operators shipped twice with
no driver verdict).

Round-5: the order is now COMPUTED from the CORRECTNESS_r*.json files
at import (never-certified first, then certified stalest-first), so the
invariants here check the DERIVATION, not a hand-maintained list: the
round-3 failure (new entries shipped with no verdict) and the round-4
failure (a list-echo invariant going red when the driver wrote a new
round file) are both structurally impossible while these hold."""

import glob
import json
import os
import re
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _correctness_files() -> list[tuple[int, dict]]:
    """(round_number, verdicts) for every CORRECTNESS_r*.json, ascending."""
    out = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            out.append((int(m.group(1)), json.load(f)))
    return out


def test_registry_window_invariants():
    from pyspark_data_quality_spark.entry_queries import (
        _CERT_PRIORITY,
        _CERT_ROTATED,
        CERT_WINDOW,
        ENTRY_QUERIES,
        ORACLE_SQL,
    )

    ks = list(ENTRY_QUERIES)
    # every oracle key corresponds to a registered query
    assert set(ORACLE_SQL) <= set(ks)

    rounds = _correctness_files()
    last_seen: dict[str, int] = {}
    for rnum, verdicts in rounds:
        for k in verdicts:
            last_seen[k] = max(last_seen.get(k, 0), rnum)

    # content-stale entries (oracle SQL edited since last certification)
    # count as never-certified: their recorded verdict is for different
    # semantics (same derivation as _apply_cert_order)
    from pyspark_data_quality_spark.entry_queries import (
        _stale_by_oracle_content,
    )

    stale_sql = _stale_by_oracle_content()
    never = [k for k in ks if k not in last_seen or k in stale_sql]
    # 1. every never-certified entry leads the registry (first slots)
    assert ks[: len(never)] == never
    assert sorted(never) == sorted(_CERT_PRIORITY)
    # ... and they all FIT in the driver's window, or some new entry
    # cannot receive a verdict this round
    assert len(never) <= CERT_WINDOW, (
        f"{len(never)} never-certified entries exceed the {CERT_WINDOW}-"
        "slot window — stage new entries across rounds"
    )
    # 2. certified entries are ordered stalest-first (monotone non-
    # decreasing latest-verdict round), so re-certification auto-rotates
    cert_rounds = [last_seen[k] for k in ks[len(never):]]
    assert cert_rounds == sorted(cert_rounds)
    # 3. by construction nothing outside the window lacks a verdict
    uncertified_outside = [k for k in ks[CERT_WINDOW:] if k not in last_seen]
    assert not uncertified_outside
    # 4. _CERT_ROTATED is exactly the beyond-window tail
    assert ks[CERT_WINDOW:] == _CERT_ROTATED

    # Advisory (non-fatal): entries whose latest verdict is >=3 rounds old
    # mean the window is cycling slowly — consider fewer new entries.
    if rounds:
        latest_round = max(r for r, _ in rounds)
        stale = sorted(
            k for k in ks
            if k in last_seen and last_seen[k] <= latest_round - 3
        )
        if stale:
            warnings.warn(
                f"{len(stale)} entries have no driver verdict in the last "
                f"3 rounds (slow window cycle): {stale}",
                stacklevel=1,
            )


def test_registry_bench_line_budget():
    """The compact bench suite line must fit the driver's 2000-char tail
    buffer WHOLE with >300 chars of headroom. Measure the actual line
    bench.py would emit (worst-case timing widths) rather than an
    estimate."""
    from bench import suite_line
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    # worst-case 1-dp timing renders as 99.9 (4 chars; a single query
    # sustained at 100+ s would already blow the driver's round budget,
    # so wider timings are unreachable). The real r4 suite averaged ~1 s
    # per query (3-char timings), so the emitted line runs ~160 chars
    # shorter than this bound.
    timings = {k: 99.9 for k in ENTRY_QUERIES}
    line = suite_line(8291.7, timings, sf=0.1, pop="all")
    # bounded BY CONSTRUCTION: suite_line truncates the per-query map
    # (slowest-first retention) before it can overflow the driver's
    # ~2000-char tail buffer, whatever the entry count.
    assert len(line) <= 1900, f"suite line {len(line)} chars > 1900 budget"
    parsed = json.loads(line)
    assert parsed["n"] == len(ENTRY_QUERIES)  # n covers the FULL suite
    assert parsed["metric"] == "dq_suite_seconds"
    # population stamp (r12 verdict item 6): a full-registry total and
    # a subset run must be distinguishable from the JSON alone
    assert parsed["pop"] == "all"

    # Past ~112 entries the full map mathematically exceeds the
    # driver's 2000-char tail whatever the names; suite_line's
    # slowest-first retention is the protection that matters: the
    # entries a perf judge acts on are never the ones dropped, and the
    # full map still reaches stderr (dq_queries_full) every run. Guard
    # the REAL invariants instead of a name-length proxy (the old
    # 6+(n-117) floor was calibrated for shorter names and tripped on
    # healthy growth):
    #  1. no entry with a non-noise timing (>=2 s) ever falls off the
    #     stdout line while any faster entry remains;
    #  2. the uniform-1s map keeps a solid majority of entries — drops
    #     stay confined to the structural tail, so per-entry detail
    #     remains the norm, not the exception;
    #  3. mean rendered key length stays lean — the one lever entry
    #     AUTHORS control; fat names shrink everyone's detail window.
    mixed = {
        k: (5.0 if i % 3 == 0 else 0.8)
        for i, k in enumerate(sorted(ENTRY_QUERIES))
    }
    mp = json.loads(suite_line(120.0, mixed, sf=0.1))
    slow_keys = [k[3:] for k, v in mixed.items() if v >= 2.0]
    missing_slow = [k for k in slow_keys if k not in mp["queries"]]
    assert not missing_slow, (
        f"slow entries dropped from the suite line: {missing_slow}"
    )

    realistic = json.loads(
        suite_line(83.0, {k: 1.0 for k in ENTRY_QUERIES}, sf=0.1)
    )
    # The char budget is FIXED (driver tail), so the keep-count is
    # ~constant (~108 at current name lengths) while the suite grows —
    # a percentage floor would inevitably decay below any threshold.
    # Guard the absolute detail window instead: at least 100 entries
    # of per-query detail on stdout, always (plus invariant #1 above:
    # the dropped ones are never the slow ones).
    kept = len(ENTRY_QUERIES) - realistic.get("dropped", 0)
    assert kept >= min(len(ENTRY_QUERIES), 100), (
        f"uniform-1s suite line keeps only {kept}/{len(ENTRY_QUERIES)} "
        "entries — per-query detail is eroding; shorten entry names"
    )

    mean_key = sum(len(k) - 3 for k in ENTRY_QUERIES) / len(ENTRY_QUERIES)
    assert mean_key <= 13.0, (
        f"mean rendered key length {mean_key:.1f} > 13 — entry names "
        "have grown fat; keep new entries short"
    )

    # truncation path: absurd entry volume still yields a parseable line
    # with the slowest queries retained.
    big = {f"dq_entry_{i:03d}": float(i % 50) for i in range(400)}
    tline = suite_line(9999.0, big, sf=0.1)
    tparsed = json.loads(tline)
    assert len(tline) <= 1900
    assert tparsed["n"] == 400 and tparsed["dropped"] > 0
    kept = tparsed["queries"]
    dropped_vals = [round(v, 1) for k, v in big.items()
                    if (k[3:] if k.startswith("dq_") else k) not in kept]
    # slowest retained, fastest dropped (ties may straddle the cut)
    assert min(kept.values()) >= max(dropped_vals)


def test_prev_bench_fills_from_full_artifact(tmp_path):
    """_prev_bench must restore the per-query timings the suite line
    dropped (driver tail truncation) from docs/bench_full_sf{sf}.json —
    but ONLY the missing keys (BENCH_r{N}, the round-close run, stays
    authoritative for shared keys: a same-round tag does not mean the
    same run) and ONLY when the artifact's round tag matches the newest
    BENCH file (a stale map from different code must not pollute the
    baseline). The artifact is per-sf so a quick sf0.01 run can never
    clobber the sf0.1 map."""
    from bench import _latest_bench_round, _prev_bench
    from harness import bench_full_name as _bench_full_name

    (tmp_path / "docs").mkdir()
    bench13 = {
        "parsed": {
            "sf": 0.1,
            # suite line keeps slow entries only, 1-dp, dq_-stripped
            "queries": {"slow_one": 5.0, "kept": 1.2},
            "dropped": 1,
        }
    }
    (tmp_path / "BENCH_r13.json").write_text(json.dumps(bench13))
    assert _latest_bench_round(str(tmp_path)) == 13
    assert _bench_full_name(0.1) == "bench_full_sf0.1.json"

    # no full artifact: baseline is the truncated map alone
    label, q = _prev_bench(str(tmp_path), 0.1)
    assert label == "BENCH_r13.json" and set(q) == {"dq_slow_one", "dq_kept"}

    # matching-round artifact: dropped entry restored, but the BENCH
    # values win for keys present in both (fill, not override)
    full = {"round": 13, "sf": 0.1,
            "queries": {"dq_slow_one": 9.999, "dq_kept": 9.999,
                        "dq_dropped_fast": 0.31}}
    art = tmp_path / "docs" / _bench_full_name(0.1)
    art.write_text(json.dumps(full))
    label, q = _prev_bench(str(tmp_path), 0.1)
    assert label.endswith("+docs/bench_full_sf0.1.json")
    assert q["dq_dropped_fast"] == 0.31
    assert q["dq_slow_one"] == 5.0 and q["dq_kept"] == 1.2

    # a different-sf artifact is a different file: never consulted
    other = {"round": 13, "sf": 0.01, "queries": {"dq_other": 1.0}}
    (tmp_path / "docs" / _bench_full_name(0.01)).write_text(
        json.dumps(other)
    )
    label, q = _prev_bench(str(tmp_path), 0.1)
    assert "dq_other" not in q

    # round-tag mismatch (artifact measured r14 code, BENCH still r13):
    # fall back to the truncated map
    full["round"] = 14
    art.write_text(json.dumps(full))
    label, q = _prev_bench(str(tmp_path), 0.1)
    assert label == "BENCH_r13.json" and "dq_dropped_fast" not in q


def test_bench_full_artifact_is_per_cpus(tmp_path):
    """An 8-core full run must neither overwrite the 32-core map nor
    serve as the 32-core baseline (and vice versa): the artifact name
    carries a non-default core count, the artifact is stamped with it,
    and _prev_bench matches cpus as well as round and sf."""
    from bench import _prev_bench, _write_full_artifact
    from harness import bench_full_name as _bench_full_name

    (tmp_path / "docs").mkdir()
    for name, cpus, t in (("BENCH_r16.json", 32, 2.0),
                          ("BENCH_r16_c8.json", 8, 1.0)):
        (tmp_path / name).write_text(json.dumps({
            "cpus": cpus, "sf": 0.1,
            "parsed": {"sf": 0.1, "queries": {"slow": t}},
        }))
    p32 = _write_full_artifact(str(tmp_path), 0.1, 32,
                               {"dq_slow": 2.01, "dq_fast": 0.32}, {}, "all")
    p8 = _write_full_artifact(str(tmp_path), 0.1, 8,
                              {"dq_slow": 1.01, "dq_fast": 0.18}, {}, "all")
    assert p32 == str(tmp_path / "docs" / "bench_full_sf0.1.json")
    assert p8 == str(tmp_path / "docs" / _bench_full_name(0.1, 8))
    assert p8.endswith("bench_full_sf0.1_c8.json")
    art32 = json.loads(open(p32).read())
    assert art32["cpus"] == 32 and art32["queries"]["dq_fast"] == 0.32
    assert json.loads(open(p8).read())["cpus"] == 8
    # a live run tags the round it measures (latest BENCH round + 1);
    # retag both maps as the r16 runs so they line up with BENCH_r16*
    for p in (p32, p8):
        art = json.loads(open(p).read())
        assert art["round"] == 17
        art["round"] = 16
        open(p, "w").write(json.dumps(art))

    label, q = _prev_bench(str(tmp_path), 0.1)
    assert label == "BENCH_r16.json+docs/bench_full_sf0.1.json"
    assert q == {"dq_slow": 2.0, "dq_fast": 0.32}
    label, q = _prev_bench(str(tmp_path), 0.1, 8)
    assert label == "BENCH_r16_c8.json+docs/bench_full_sf0.1_c8.json"
    assert q == {"dq_slow": 1.0, "dq_fast": 0.18}
    # a core count with no recorded run has no baseline at all
    assert _prev_bench(str(tmp_path), 0.1, 4) is None

    # a legacy map without a cpus stamp was a 32-core run: it fills the
    # 32-core baseline only
    legacy = json.loads(open(p32).read())
    del legacy["cpus"]
    open(p32, "w").write(json.dumps(legacy))
    assert _prev_bench(str(tmp_path), 0.1)[1]["dq_fast"] == 0.32
    art8 = json.loads(open(p8).read())
    art8["cpus"] = 32
    open(p8, "w").write(json.dumps(art8))
    assert "dq_fast" not in _prev_bench(str(tmp_path), 0.1, 8)[1]


def test_ann_recall_entry_meets_floors(spark, sf_dir):
    """dq_ann_recall is the driver-visible ANN quality gate; every
    configured (method, config) row must clear its documented floor on
    the uniform-random fixture (the adversarial case for ANN)."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["dq_ann_recall"](spark, sf_dir).collect()
    assert len(rows) == 7  # lsh x3 (incl. the md5 entry face), ivf x2, pq, ivf_pq
    for r in rows:
        assert r["meets_floor"], (
            f"{r['method']} {r['config']}: recall {r['recall']} "
            f"< floor {r['floor']}"
        )
    # the IVF-PQ composition has its OWN floor row: list-pruning recall
    # loss is measured, never assumed from the plain-PQ row
    assert any(r["method"] == "ivf_pq" for r in rows)
    # the recall-tilted configs must actually beat the base configs —
    # otherwise the harness isn't showing the knob it claims to show
    by = {r["config"]: r["recall"] for r in rows}
    assert by["planes=6,tables=16"] > by["planes=12,tables=6 (default)"]
    assert by["planes=6,tables=16"] > by["planes=8,tables=4,md5 (entry)"]
    assert by["nprobe=16/32"] > by["nprobe=8/32 (default)"]


def test_neardup_recall_entry_meets_floors(spark, sf_dir):
    """dq_neardup_recall is the driver-visible near-dup quality gate;
    every (method, config) row must clear its documented recall floor
    (and the shared 0.9 precision floor) on the fixture corpus."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["dq_neardup_recall"](spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["meets_floor"], (
            f"{r['method']} {r['config']}: recall {r['recall']} "
            f"< floor {r['recall_floor']} or precision {r['precision']} < 0.9"
        )
    # the knob rows must actually move the knob: more bands = more
    # recall for minhash (narrower bands), wider banding for simhash
    by = {(r["method"], r["config"]): r["recall"] for r in rows}
    assert (
        by[("minhash", "hashes=64,bands=32,t=0.5")]
        > by[("minhash", "hashes=64,bands=16,t=0.5")]
    )
    assert (
        by[("simhash", "hamming<=8,bands=8")]
        > by[("simhash", "hamming<=8,bands=4 (entry)")]
    )


def test_semantic_recall_entry_meets_floors(spark, sf_dir):
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["dq_sem_recall"](spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["meets_floor"], (
            f"{r['config']}: recall {r['recall']} < floor {r['recall_floor']}"
        )
    by = {r["config"]: r["recall"] for r in rows}
    # fewer clusters -> fewer true pairs split across boundaries
    assert by["clusters=4"] > by["clusters=16 (entry)"]


def test_mmd_entry_meets_floor(spark, sf_dir):
    """dq_mmd's enforced invariant: the seeded-RFF MMD must separate a
    genuine mean shift from a same-distribution split by 10x, with the
    null split staying under 0.05 — the rows-only entry's floor."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = {r["config"]: r
            for r in ENTRY_QUERIES["dq_mmd"](spark, sf_dir).collect()}
    assert set(rows) == {"null_split", "mean_shift"}
    for r in rows.values():
        assert r["meets_floor"], (
            f"{r['config']}: mmd {r['mmd']} (null "
            f"{rows['null_split']['mmd']}, shift "
            f"{rows['mean_shift']['mmd']})"
        )
    assert rows["mean_shift"]["mmd"] > rows["null_split"]["mmd"]


def test_zorder_entry_meets_floor(spark, sf_dir):
    """dq_zorder's enforced invariant: the Morton layout keeps BOTH
    clustering columns' mean per-partition span <= 0.7 of the global
    range (alignment-robust — boxes straddling bucket transitions push
    the observed mean toward 0.5 at sf0.1), while the single-column
    sort leaves the second column unprunable (mean span > 0.9), and
    the z span must stay under 0.7x the sorted span — the
    pruning-proxy floors."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = {r["layout"]: r
            for r in ENTRY_QUERIES["dq_zorder"](spark, sf_dir).collect()}
    assert set(rows) == {"zorder", "sorted_orderkey"}
    for r in rows.values():
        assert r["meets_floor"], r
    z, s = rows["zorder"], rows["sorted_orderkey"]
    # the z-layout must beat the single-sort on the SECOND column by a
    # wide margin — that differential IS the data-skipping claim
    # (0.7x: at larger SFs the Morton boxes straddle bucket
    # transitions and the z mean hovers near 0.5 vs the sort's ~1.0)
    assert z["mean_span_price"] < s["mean_span_price"] * 0.7


def test_curation_floor_entry_meets_floor(spark, sf_dir):
    """dq_curation_floor certifies the exact MinHash config
    curate_corpus ships; with it, every approximate stage in the
    product is driver-visible with a floor."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["dq_curation_floor"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_exact"] > 0, "fixture lost its near-dup pairs"
    assert r["meets_floor"], (
        f"{r['config']}: recall {r['recall']} < floor {r['recall_floor']} "
        f"or precision {r['precision']} < 0.9"
    )


def test_sketch_tolerance_entry_meets_floors(spark, sf_dir):
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["dq_sketch_tol"](spark, sf_dir).collect()
    grps = {r["grp"] for r in rows}
    assert "__total__" in grps and len(rows) == 4
    for r in rows:
        assert r["meets_floor"], (
            f"{r['grp']}: distinct_rel_err {r['distinct_rel_err']} or "
            f"max_rank_err {r['max_rank_err']} out of tolerance"
        )


def test_entry_outputs_are_atomic(spark, sf_dir):
    """Every registry entry must project ONLY atomic-typed columns.

    The driver's oracle canonicalizer sorts the collected result with
    pandas ``sort_values`` over all columns, which raises ``TypeError:
    unhashable type`` on list/map/struct cells — r9's single red row
    (dq_vclust) was a correct operator whose entry exposed an
    ``array<string>`` column. Operators may keep collection-typed API
    faces; ENTRIES serialize them (array_join etc.) before the driver
    sees them. Building each frame also smoke-checks that every entry
    still constructs at sf0.001."""
    from pyspark.sql import types as T

    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    offenders = {}
    for name, fn in ENTRY_QUERIES.items():
        df = fn(spark, sf_dir)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"entries with non-atomic output columns (driver cannot hash "
        f"them): {offenders}"
    )


def test_oracle_content_hash_staleness():
    """Content-hash staleness: formatting edits don't invalidate a cert,
    semantic edits do, and any currently-stale entry must sit INSIDE the
    certification window (that's the mechanism's whole point)."""
    from pyspark_data_quality_spark.entry_queries import (
        CERT_WINDOW,
        ENTRY_QUERIES,
        _stale_by_oracle_content,
        oracle_sql_hash,
    )

    # whitespace-insensitive: reformatting is not a semantic change
    assert oracle_sql_hash("SELECT  1\n  FROM t") == oracle_sql_hash(
        "SELECT 1 FROM t"
    )
    assert oracle_sql_hash("SELECT 1 FROM t") != oracle_sql_hash(
        "SELECT 2 FROM t"
    )

    stale = _stale_by_oracle_content()
    window = set(list(ENTRY_QUERIES)[:CERT_WINDOW])
    assert stale <= window, (
        f"oracle-SQL-changed entries escaped the cert window: "
        f"{sorted(stale - window)} — too many stale entries for one round?"
    )


def test_hash_snapshot_refresh_logic(tmp_path, monkeypatch):
    """refresh_hash_snapshot certifies only hash-matched entries of the
    newest round (or everything with seed_all), and drops deleted ones."""
    import json

    import make_cert_ledger as mcl

    monkeypatch.setattr(mcl, "REPO", str(tmp_path))
    (tmp_path / "docs").mkdir()
    snap_path = tmp_path / "docs" / "oracle_sql_hashes.json"
    fake_sql = {"dq_a": "SELECT 1", "dq_b": "SELECT 2", "dq_gone": "SELECT 3"}
    monkeypatch.setattr(mcl, "ORACLE_SQL", fake_sql)

    # seed-all records every entry
    n = mcl.refresh_hash_snapshot(None, seed_all=True)
    assert n == 3
    snap = json.loads(snap_path.read_text())
    assert set(snap) == {"dq_a", "dq_b", "dq_gone"}

    # a later round certifies only dq_a; dq_b's edit stays UNrecorded,
    # dq_gone disappears from the registry and thus the snapshot
    fake_sql["dq_b"] = "SELECT 2 /* edited, not yet re-certified */"
    del fake_sql["dq_gone"]
    latest = {"dq_a": {"hash_match": True}, "dq_b": {"hash_match": None}}
    mcl.refresh_hash_snapshot(latest, seed_all=False)
    snap2 = json.loads(snap_path.read_text())
    assert set(snap2) == {"dq_a", "dq_b"}
    assert snap2["dq_b"] == snap["dq_b"]  # old hash kept -> still stale
