"""Corpus-overlap estimation via bottom-k (KMV) sketches: how much do
two corpora share, WITHOUT joining them.

"What fraction of crawl B did we already have in crawl A?" at 100 TB
cannot be a distinct-join — but each side's k smallest distinct hash
values (the classic KMV / bottom-k sketch; public: Bar-Yossef et al.
2002, Beyer et al. 2007 "On synopses for distinct-value estimation")
are a few KB, fully MERGEABLE, and — because the hash is deterministic —
REPRODUCIBLE: the sketch of a corpus is a pure function of its value
set, independent of partitioning, ordering, or cluster size. That makes
every estimate this module emits exactly replayable by the DuckDB
oracle, estimation error and all.

Estimators (k-th smallest hash as a fraction θ of the hash space):
- distinct  D ≈ (k-1)/θ   (exact when the side has < k distinct values
  — the sketch IS the value set);
- Jaccard   J ≈ |{h in U : h in both sketches}| / |U| where U is the
  k smallest of the union of sketches;
- |A∩B| ≈ J · D_U;  containment(A in B-direction) = |A∩B| / D_A.

Scale shape: one map-side pass per corpus — each partition emits its
distinct bottom-k (np.unique over Arrow batches, ≤ k rows out), a
single small exchange merges ≤ partitions×k rows, and the driver
collects exactly ≤ k hashes per side (parameter-bounded collect,
docs/SCALE.md invariant #1). Nothing anywhere scales with corpus size.

Hashing: first 15 hex chars of md5 (60 bits) — fixed-width hex sorts
lexicographically AND numerically the same, and both Spark and DuckDB
can evaluate it (`md5`/`substring` vs `md5`/`substr`), which is what
keeps the oracle replay byte-exact.

Reference parity: no sketch surface in the reference; extension
alongside sketch_rollup (HLL/KLL) and dedup_against (exact incremental
dedup — use THAT when you need the actual overlapping rows).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expr import DIGITS
from ..plans.local import local_frame

__all__ = [
    "bottom_k_sketch",
    "corpus_overlap",
    "overlap_from_sketches",
    "joinability_report",
]

_HEX_WIDTH = 15
_SPACE = float(16 ** _HEX_WIDTH)


def bottom_k_sketch(df: DataFrame, col: str, k: int) -> list[str]:
    """The k smallest distinct 60-bit md5-hex hashes of ``df[col]``
    (NULLs ignored), as a sorted Python list of ≤ k fixed-width hex
    strings. Deterministic for a given value set — partitioning holds
    no sway. Per-partition distinct bottom-k via one Arrow pass, then a
    tiny merge; the driver receives at most k rows."""
    import pandas as pd

    if k < 2:
        raise ValueError("bottom_k_sketch: k must be >= 2")
    if col not in df.columns:
        raise ValueError(f"bottom_k_sketch: column {col!r} not in df")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        best = None
        for pdf in batches:
            arr = np.unique(pdf["h"].to_numpy())
            best = (
                arr[:k]
                if best is None
                else np.unique(np.concatenate([best, arr]))[:k]
            )
        yield pd.DataFrame({"h": [] if best is None else best})

    h = F.substring(F.md5(F.col(col).cast("string")), 1, _HEX_WIDTH)
    s = (
        df.select(h.alias("h"))
        .filter(F.col("h").isNotNull())
        .mapInPandas(gen, schema="h string")
    )
    rows = s.distinct().orderBy("h").limit(k).collect()
    return sorted(r["h"] for r in rows)


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    col: str,
    *,
    k: int = 1024,
) -> DataFrame:
    """One-row overlap report between the DISTINCT value sets of
    ``a[col]`` and ``b[col]``: ``n_a_est`` / ``n_b_est`` /
    ``n_union_est`` (distinct-count estimates; exact below k),
    ``jaccard_est``, ``intersection_est``, ``containment_a``
    (share of A's values also in B) and ``containment_b``.

    Empty-side convention: an empty side has distinct 0; jaccard and
    both containments are 0 when the union is empty. Estimates are
    deterministic (see module docstring) — the oracle replays them
    exactly, including estimation error; accuracy vs ground truth is
    property-tested separately (~1/sqrt(k) relative error)."""
    spark = SparkSession.getActiveSession() or a.sparkSession
    sa = bottom_k_sketch(a, col, k)
    sb = bottom_k_sketch(b, col, k)
    return overlap_from_sketches(spark, sa, sb, k, build_k=k)


def _estimate(
    sa: list[str], sb: list[str], k: int
) -> tuple[float, float, float, float, float, float, float]:
    """Pure-Python estimator core over two sketches (raw, UNROUNDED):
    (d_a, d_b, d_u, jaccard, intersection, containment_a,
    containment_b). Deterministic — both overlap_from_sketches and
    joinability_report emit these through a JVM-side F.round."""
    sa, sb = sorted(sa)[:k], sorted(sb)[:k]

    def frac(h: str) -> float:
        return int(h, 16) / _SPACE

    def d_est(sk: list[str]) -> float:
        if len(sk) < k:
            return float(len(sk))  # sketch IS the value set
        return (k - 1) / frac(sk[-1])

    set_a, set_b = set(sa), set(sb)
    union = sorted(set_a | set_b)[:k]
    d_a, d_b = d_est(sa), d_est(sb)
    d_u = float(len(union)) if len(union) < k else (k - 1) / frac(union[-1])
    inter_k = sum(1 for h in union if h in set_a and h in set_b)
    jac = inter_k / len(union) if union else 0.0
    inter_est = jac * d_u
    cont_a = inter_est / d_a if d_a > 0 else 0.0
    cont_b = inter_est / d_b if d_b > 0 else 0.0
    return (d_a, d_b, d_u, jac, inter_est, cont_a, cont_b)


def overlap_from_sketches(
    spark: SparkSession,
    sa: list[str],
    sb: list[str],
    k: int,
    *,
    build_k: int | None = None,
) -> DataFrame:
    """The estimator tail of :func:`corpus_overlap`, over two
    already-built sketches — the INCREMENTAL shape: persist each
    corpus/day/source sketch once (it is a ≤ k-row string list; a
    one-column parquet file holds it), then compare any two without
    rescanning either corpus. Sketches built with different ``k`` can
    be compared at the SMALLER ``k`` by truncation — each is, by
    definition, the bottom-k' of its set for any k' ≤ k. The UPWARD
    direction is invalid and undetectable from the sketch alone: a
    sketch built with k=128 over a huge corpus is indistinguishable
    from the full value set of a 128-distinct corpus, so requesting
    k=256 would silently floor the estimate at 128. Pass ``build_k``
    (the smaller of the two sketches' build parameters) whenever it is
    known — ``k > build_k`` then raises instead of under-estimating."""
    if any(len(h) != _HEX_WIDTH for h in (*sa, *sb)):
        raise ValueError(
            "overlap_from_sketches: sketch entries must be "
            f"{_HEX_WIDTH}-char md5-hex values from bottom_k_sketch"
        )
    if build_k is not None and k > build_k:
        raise ValueError(
            f"overlap_from_sketches: k={k} exceeds build_k={build_k} — "
            "a sketch only supports comparison at k' <= its build k "
            "(re-sketch the corpora with the larger k instead)"
        )
    row = local_frame(
        spark,
        [_estimate(sa, sb, k)],
        "n_a_est double, n_b_est double, n_union_est double, "
        "jaccard_est double, intersection_est double, "
        "containment_a double, containment_b double",
    )
    # round JVM-side (HALF_UP, oracle-matching) — never in Python
    return row.select(*[F.round(c, DIGITS).alias(c) for c in row.columns])


def joinability_report(
    spark: SparkSession,
    tables: list[tuple[str, DataFrame, str]],
    *,
    k: int = 1024,
) -> DataFrame:
    """Join-column discovery across a data lake: for every ordered pair
    of (table, column) candidates, how much of A's value set is
    CONTAINED in B's — the signal that ranks "these two columns join"
    without ever joining them (public lineage: Aurum / LSH Ensemble
    joinability search; the estimator here is the same bottom-k sketch
    as :func:`corpus_overlap`).

    ``tables`` is a list of (name, df, col); each side is sketched
    ONCE (one scan + one ≤ k-row collect per input), every unordered
    pair is estimated once in pure Python from the cached sketches
    (the reverse direction is the same estimate read the other way),
    and ONE local frame carries all n·(n−1) directed rows — adding a
    table to a 50-table catalog costs one scan, not 50 joins, and the
    whole report is a single Spark job after the sketches. Output per
    ordered pair: ``a``, ``b`` (names), ``n_a_est``, ``n_b_est``,
    ``jaccard_est``, ``containment`` (share of A's distinct values
    present in B — the "A's FK hits B's PK" direction when ≈ 1),
    sorted containment-descending; rounding happens JVM-side
    (HALF_UP, oracle-matching).

    Estimates are deterministic (sketches are pure functions of value
    sets), so the DuckDB oracle replays them exactly; NULL values are
    ignored on every side. Names must be unique — the report keys on
    them.
    """
    if len(tables) < 2:
        raise ValueError("joinability_report: need at least 2 tables")
    names = [n for n, _, _ in tables]
    if len(set(names)) != len(names):
        raise ValueError(f"joinability_report: duplicate names in {names}")
    sketches = {
        name: bottom_k_sketch(df, col, k) for name, df, col in tables
    }
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            d_a, d_b, _d_u, jac, _inter, c_a, c_b = _estimate(
                sketches[a], sketches[b], k
            )
            rows.append((a, b, d_a, d_b, jac, c_a))
            rows.append((b, a, d_b, d_a, jac, c_b))
    out = local_frame(
        spark,
        rows,
        "a string, b string, n_a_est double, n_b_est double, "
        "jaccard_est double, containment double",
    ).select(
        "a", "b",
        F.round("n_a_est", DIGITS).alias("n_a_est"),
        F.round("n_b_est", DIGITS).alias("n_b_est"),
        F.round("jaccard_est", DIGITS).alias("jaccard_est"),
        F.round("containment", DIGITS).alias("containment"),
    )
    return out.orderBy(F.desc("containment"), "a", "b")
