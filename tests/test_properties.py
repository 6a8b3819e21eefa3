"""Property-based tests (hypothesis): invariants a Python reference
implementation can certify for the Spark expression trees.

Each property collects all hypothesis examples into ONE DataFrame and
runs ONE Spark job, comparing against a pure-Python model — Spark's
per-query latency makes per-example jobs impractical.
"""

import math
import string

import pytest

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pyspark_data_quality_spark.functions.text import (
    normalize_text,
    winnow_fingerprints,
)
from pyspark_data_quality_spark.operators.dedup import jaccard

TEXT = st.text(alphabet=string.ascii_lowercase + " ", min_size=0, max_size=60)


def _norm(s: str) -> str:
    return " ".join(s.lower().split())


def _py_winnow(s: str, k: int = 5, w: int = 4) -> list[str]:
    import hashlib

    s = _norm(s)
    if len(s) < k:
        return []
    grams = [
        hashlib.md5(s[i : i + k].encode()).hexdigest()
        for i in range(len(s) - k + 1)
    ]
    if len(grams) < w:
        return []
    mins = [min(grams[i : i + w]) for i in range(len(grams) - w + 1)]
    return sorted(set(mins))


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_winnow_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r["i"]: r["fps"]
        for r in df.select("i", winnow_fingerprints("t").alias("fps")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), f"mismatch for {t!r}"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(TEXT, max_size=8), st.lists(TEXT, max_size=8)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_jaccard_matches_set_model(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<string>, b array<string>",
    )
    got = {
        r["i"]: r["j"]
        for r in df.select("i", jaccard("a", "b").alias("j")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        sa, sb = set(a), set(b)
        expected = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert abs(got[i] - expected) < 1e-12
        assert 0.0 <= got[i] <= 1.0


def test_jaccard_edge_cases(spark):
    """Fixed cases beside the set model: a NULL array on either side
    reads 0.0 (as the former Column-tree form did under ANSI mode, where
    ``size(NULL)`` is NULL), empty ∩ empty reads 0.0, and repeated
    elements count once."""
    df = spark.createDataFrame(
        [
            (0, None, ["a"]),
            (1, ["a"], None),
            (2, [], []),
            (3, ["a", "a", "b"], ["b", "b", "c", "c"]),
            (4, ["x", "x"], ["x"]),
        ],
        "i int, a array<string>, b array<string>",
    )
    got = {r["i"]: r["j"] for r in df.select("i", jaccard("a", "b").alias("j")).collect()}
    assert got == {0: 0.0, 1: 0.0, 2: 0.0, 3: 1 / 3, 4: 1.0}


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_normalize_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _norm(t)


@settings(max_examples=3, deadline=None)
@given(
    base=st.text(alphabet=string.ascii_lowercase, min_size=8, max_size=8),
    pre_a=TEXT,
    post_a=TEXT,
    pre_b=TEXT,
    post_b=TEXT,
)
def test_winnow_shared_substring_guarantee(spark, base, pre_a, post_a, pre_b, post_b):
    """Winnowing guarantee: any shared substring of length >= k+w-1 (=8)
    yields at least one shared fingerprint. Collapsing whitespace must not
    shorten the shared run, so the probe substring is letters-only and
    padded with sentinels to survive normalization boundaries."""
    a = _norm(f"{pre_a}x{base}x{post_a}")
    b = _norm(f"{pre_b}x{base}x{post_b}")
    df = spark.createDataFrame([(0, a), (1, b)], "i int, t string")
    got = {
        r["i"]: set(r["fps"])
        for r in df.select("i", winnow_fingerprints("t").alias("fps")).collect()
    }
    assert got[0] & got[1], f"no shared fingerprint for {a!r} / {b!r}"


@settings(max_examples=5, deadline=None)
@given(
    trades=st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
    quotes=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]), st.integers(0, 50), st.integers(0, 999)
        ),
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),  # one quote per (key, ts): tie-free
    ),
)
def test_asof_join_matches_pandas_model(spark, trades, quotes):
    """asof_join == merge_asof semantics (backward, inclusive)."""
    from pyspark_data_quality_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(trades)],
        "k string, ts long, row_id int",
    )
    rdf = spark.createDataFrame(quotes, "k string, qts long, px int")
    got = {
        r["row_id"]: r["px_matched"]
        for r in asof_join(ldf, rdf, on="ts", by=["k"], right_on="qts").collect()
    }
    lookup = {}
    for k, qt, px in quotes:
        lookup.setdefault(k, []).append((qt, px))
    for i, (k, t) in enumerate(trades):
        eligible = [(qt, px) for qt, px in lookup.get(k, []) if qt <= t]
        expected = max(eligible)[1] if eligible else None
        assert got[i] == expected, (i, k, t)


@settings(max_examples=5, deadline=None)
@given(
    cur=st.lists(st.sampled_from("abcd"), min_size=1, max_size=40),
    ref=st.lists(st.sampled_from("abcd"), min_size=1, max_size=40),
)
def test_psi_properties(spark, cur, ref):
    """PSI is non-negative, zero iff distributions match, symmetric-ish
    in its zero point."""
    from pyspark_data_quality_spark.operators.drift import psi_summary

    c = spark.createDataFrame([(v,) for v in cur], "k string")
    r = spark.createDataFrame([(v,) for v in ref], "k string")
    psi = psi_summary(c, r, ["k"]).collect()[0]["psi"]
    assert psi >= 0.0
    self_psi = psi_summary(c, c, ["k"]).collect()[0]["psi"]
    assert self_psi == 0.0


def _py_psi_by_group(cur_rows, ref_rows, eps=1e-6):
    """Naive reference for psi_by_group over one column 'v' grouped by
    'g': per-side ratio dicts + explicit full-outer alignment — the
    pre-r11 shape the tagged-union fusion must reproduce exactly."""
    from collections import Counter, defaultdict

    def ratios(rows):
        counts = defaultdict(Counter)
        for g, v in rows:
            counts[g][v] += 1
        return {
            g: {v: n / sum(c.values()) for v, n in c.items()}
            for g, c in counts.items()
        }

    pc, pr = ratios(cur_rows), ratios(ref_rows)
    out = {}
    for g in set(pc) | set(pr):
        total = 0.0
        for v in set(pc.get(g, {})) | set(pr.get(g, {})):
            a = max(pc.get(g, {}).get(v, 0.0), eps)
            b = max(pr.get(g, {}).get(v, 0.0), eps)
            total += (a - b) * math.log(a / b)
        out[g] = round(total, 6)
    return out


@settings(max_examples=5, deadline=None)
@given(
    cur=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", None]),
            st.sampled_from(["a", "b", "c", None]),
        ),
        min_size=1,
        max_size=40,
    ),
    ref=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z", None]),
            st.sampled_from(["a", "b", None]),
        ),
        min_size=0,
        max_size=40,
    ),
)
def test_psi_by_group_matches_naive_join_model(spark, cur, ref):
    """The r11 tagged-union fusion must be value-identical to the naive
    per-side-ratios + full-outer-join formulation it replaced —
    adversarial on NULL groups, NULL values, one-sided groups, and an
    entirely EMPTY ref side."""
    from pyspark_data_quality_spark.operators.drift import psi_by_group

    schema = "g string, v string"
    c = spark.createDataFrame(cur, schema)
    r = spark.createDataFrame(ref, schema) if ref else spark.createDataFrame(
        [], schema
    )
    got = {
        row["grp"]: row["psi"]
        for row in psi_by_group(c, r, ["v"], "g").collect()
    }
    want = _py_psi_by_group(cur, ref)
    # abs=2e-6: both sides round to 6 decimals but Spark's F.round is
    # HALF_UP while Python's is banker's — a value landing exactly on a
    # .5 boundary may legitimately differ by one final-digit ulp
    assert set(got) == set(want), (cur, ref)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=2e-6), (g, cur, ref)


def _py_ks_by_group(cur_rows, ref_rows):
    """Naive per-group two-sample KS over (g, x) tuples: classic ECDF
    max-gap with NULL x dropped and a one-sided group reading 1.0 —
    the contract the distributed prefix sum must reproduce."""
    from collections import defaultdict

    sides = defaultdict(lambda: ([], []))
    for i, rows in enumerate((cur_rows, ref_rows)):
        for g, x in rows:
            if x is not None:
                sides[g][i].append(x)
    out = {}
    for g, (a, b) in sides.items():
        support = sorted(set(a) | set(b))
        ca = cb = 0.0
        d = 0.0
        for x in support:
            ca += a.count(x) / len(a) if a else 0.0
            cb += b.count(x) / len(b) if b else 0.0
            d = max(d, abs(ca - cb))
        out[g] = (round(d, 6), len(a), len(b))
    return out


@settings(max_examples=5, deadline=None)
@given(
    cur=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", None]),
            st.one_of(st.none(), st.integers(0, 6).map(float)),
        ),
        min_size=1,
        max_size=40,
    ),
    ref=st.lists(
        st.tuples(
            st.sampled_from(["x", "z", None]),
            st.one_of(st.none(), st.integers(0, 6).map(float)),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_ks_by_group_matches_naive_ecdf_model(spark, cur, ref):
    """The distributed per-group prefix-sum KS (range partitions, local
    cumulative windows, broadcast offsets, persisted histogram) must
    equal the one-machine ECDF max-gap — adversarial on NULL groups,
    NULL values, tied values, and groups present on only one side
    (which must read KS 1.0, not NULL)."""
    from pyspark_data_quality_spark.operators.drift import ks_by_group

    schema = "g string, x double"
    c = spark.createDataFrame(cur, schema)
    r = spark.createDataFrame(ref, schema)
    want = _py_ks_by_group(cur, ref)
    got = {
        row["grp"]: (row["ks"], row["n_cur"], row["n_ref"])
        for row in ks_by_group(c, r, "x", "g").collect()
    }
    # groups where BOTH sides have only NULL x produce no histogram
    # rows on either engine — drop them from the reference too
    want = {g: v for g, v in want.items() if v[1] + v[2] > 0}
    assert set(got) == set(want), (cur, ref)
    for g, (d, na, nb) in want.items():
        ks, n_cur, n_ref = got[g]
        assert (n_cur, n_ref) == (na, nb), (g, cur, ref)
        assert ks == pytest.approx(d, abs=2e-6), (g, cur, ref)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(0, 10_000_000), min_size=1, max_size=60, unique=True))
def test_split_partitions_ids(spark, ids):
    """Every id lands in exactly one split; assignment is a pure function
    of the id (stable across calls)."""
    from pyspark_data_quality_spark.operators.split import deterministic_split

    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    w = {"train": 0.7, "val": 0.2, "test": 0.1}
    a = {r["id"]: r["split"] for r in deterministic_split(df, "id", w).collect()}
    b = {r["id"]: r["split"] for r in deterministic_split(df, "id", w).collect()}
    assert a == b
    assert set(a) == set(ids)
    assert set(a.values()) <= {"train", "val", "test"}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 30), st.floats(-100, 100)), min_size=1,
             max_size=40),
    st.lists(st.tuples(st.integers(0, 30), st.floats(-100, 100)), min_size=1,
             max_size=40),
)
def test_table_diff_partition_property(spark, cur_rows, ref_rows):
    """The four statuses partition the key universe: added + removed +
    changed + unchanged == |keys(cur) U keys(ref)| (after per-side key
    dedup, which table_diff callers are responsible for — here we dedup
    in the model AND the input)."""
    from pyspark_data_quality_spark.operators.diff import table_diff

    cur_m = {k: round(v, 3) for k, v in cur_rows}
    ref_m = {k: round(v, 3) for k, v in ref_rows}
    cur = spark.createDataFrame(list(cur_m.items()), "k int, v double")
    ref = spark.createDataFrame(list(ref_m.items()), "k int, v double")
    got = {r["status"]: r["n"] for r in table_diff(cur, ref, ["k"]).collect()}
    assert sum(got.values()) == len(set(cur_m) | set(ref_m))
    assert got.get("added", 0) == len(set(cur_m) - set(ref_m))
    assert got.get("removed", 0) == len(set(ref_m) - set(cur_m))
    both = set(cur_m) & set(ref_m)
    assert got.get("changed", 0) == sum(
        1 for k in both if cur_m[k] != ref_m[k]
    )


@settings(max_examples=3, deadline=None)
@given(
    st.lists(st.floats(0, 1000, allow_nan=False), min_size=2, max_size=200),
    st.lists(st.floats(0, 1000, allow_nan=False), min_size=2, max_size=200),
)
def test_ks_partitioned_equals_single_task_property(spark, xs, ys):
    """The distributed prefix-sum KS is EXACT: identical to the one-window
    formulation on arbitrary doubles."""
    from pyspark_data_quality_spark.operators.drift import ks_statistic

    a = spark.createDataFrame([(x,) for x in xs], "x double")
    b = spark.createDataFrame([(y,) for y in ys], "x double")
    part = ks_statistic(a, b, "x").collect()[0]
    single = ks_statistic(a, b, "x", method="single_task").collect()[0]
    assert part == single
    assert 0.0 <= part["ks"] <= 1.0
    # identical distributions -> 0
    zero = ks_statistic(a, a, "x").collect()[0]
    assert zero["ks"] == 0.0


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(st.lists(TEXT, min_size=2, max_size=40))
@settings(max_examples=5, deadline=None)
def test_fuzzy_match_pairs_property(spark, corpus):
    """For ANY corpus (including empties, spaces, duplicates), the
    blocked fuzzy join equals the brute-force Levenshtein pair set."""
    from pyspark_data_quality_spark.operators.fuzzy import fuzzy_match_pairs

    rows = [(i, s) for i, s in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["id", "s"])
    for k in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in fuzzy_match_pairs(
                df, "s", "id", max_distance=k, lowercase=False
            ).collect()
        }
        exp = {
            (i, j, _py_lev(a, b))
            for i, a in rows
            for j, b in rows
            if i < j and _py_lev(a, b) <= k
        }
        assert got == exp, f"k={k}"


def _py_segments(text: str, k: int) -> list[str]:
    toks = [t for t in " ".join(text.lower().split()).split(" ") if t]
    return [
        " ".join(toks[i : i + k]) for i in range(0, len(toks) - k + 1, k)
    ]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=20).map(
            " ".join
        ),
        min_size=1,
        max_size=12,
    )
)
def test_strip_duplicate_segments_matches_python_model(spark, texts):
    from pyspark_data_quality_spark.operators.dedup import (
        strip_duplicate_segments,
    )

    k = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    # python model: df per full segment, rebuild keeping non-shared ones
    from collections import defaultdict

    seg_docs = defaultdict(set)
    for i, t in enumerate(texts):
        for s in _py_segments(t, k):
            seg_docs[s].add(i)
    expected = {}
    for i, t in enumerate(texts):
        toks = [x for x in " ".join(t.lower().split()).split(" ") if x]
        n_full = len(toks) // k
        kept = [
            " ".join(toks[j * k : (j + 1) * k])
            for j in range(n_full)
            if len(seg_docs[" ".join(toks[j * k : (j + 1) * k])]) < 2
        ]
        tail = " ".join(toks[n_full * k :])
        expected[i] = " ".join([p for p in [" ".join(kept), tail] if p]).strip()
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in strip_duplicate_segments(
            df, "text", "doc_id", k=k, min_df=2
        ).collect()
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("pqrs"), min_size=0, max_size=25).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 6),
    st.integers(0, 3),
)
def test_chunk_documents_matches_python_model(spark, texts, max_tokens, overlap):
    from pyspark_data_quality_spark.operators.split import chunk_documents

    if overlap >= max_tokens:
        overlap = max_tokens - 1
    stride = max_tokens - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    rows = chunk_documents(
        df, "text", "doc_id", max_tokens=max_tokens, overlap=overlap
    ).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            r["chunk_text"], r["chunk_tokens"]
        )
    import math

    for i, t in enumerate(texts):
        toks = [x for x in t.split() if x]
        n = len(toks)
        if n == 0:
            assert i not in got
            continue
        n_chunks = max(1, math.ceil((n - overlap) / stride))
        assert sorted(got[i]) == list(range(n_chunks)), (i, t)
        for c in range(n_chunks):
            piece = toks[c * stride : c * stride + max_tokens]
            assert got[i][c] == (" ".join(piece), len(piece)), (i, c, t)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 100_000), st.sampled_from("abcd")),
        min_size=2, max_size=80, unique_by=lambda t: t[0],
    ),
    st.dictionaries(
        st.sampled_from("abcd"), st.floats(0.1, 10.0), min_size=1, max_size=4
    ),
)
def test_matched_sample_python_model(spark, rows, target):
    """matched_sample equals a pure-python replica of its plan
    arithmetic exactly: md5-bucket membership and the floor'd bounds
    are engine-independent, so any engine (here: python) reproduces the
    identical sample — the portability contract the oracle certifies at
    fixture scale, checked here across random strata shapes."""
    import hashlib
    import math

    from pyspark_data_quality_spark.operators.split import matched_sample

    df = spark.createDataFrame(rows, "id bigint, lang string")
    got = sorted(r["id"] for r in matched_sample(df, "id", "lang", target).collect())

    total = sum(target.values())
    shares = {k: v / total for k, v in target.items()}
    counts = {}
    for _i, lg in rows:
        counts[lg] = counts.get(lg, 0) + 1
    feasible = [
        counts[lg] / s for lg, s in shares.items() if s > 0 and lg in counts
    ]
    if not feasible:
        # every target stratum is absent: the scale aggregate is NULL and
        # the sample is empty on the Spark side too
        assert got == []
        return
    scale = min(feasible)
    bounds = {
        lg: math.floor(min(1.0, shares[lg] * scale / counts[lg]) * 10000)
        for lg in counts if shares.get(lg, 0.0) > 0
    }
    want = sorted(
        i for i, lg in rows
        if lg in bounds
        and int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
            < bounds[lg]
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["good", "bad", "meh", "ok"]),
                 min_size=0, max_size=12),
        min_size=1, max_size=25,
    )
)
def test_lexicon_score_python_model(spark, docs):
    """lexicon_score equals a pure-python fold exactly: with exact
    binary-quarter weights the sum is order-independent IEEE arithmetic,
    so per-doc scores match bit-for-bit (the oracle-parity contract)."""
    from pyspark_data_quality_spark.operators.text import lexicon_score

    lex = {"good": 1.0, "bad": -0.5, "meh": 0.25}
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {
        r["id"]: r["lexicon_score"]
        for r in lexicon_score(df, lex, "text").collect()
    }
    for i, toks in enumerate(docs):
        if not toks:
            assert got[i] is None  # 0 tokens -> NULL (try_divide)
            continue
        s = 0.0
        for t in toks:
            s += lex.get(t, 0.0)
        assert got[i] == s / len(toks)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                                  # group
            st.one_of(st.none(), st.sampled_from(["a", "b", "NULL"])),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_most_common_matches_python_model(spark, rows):
    """most_common == python mode over NON-NULL values, ties to the
    smaller value, NULL only when the whole group is NULL."""
    from collections import Counter

    from pyspark_data_quality_spark.operators.merge import merge_duplicates

    df = spark.createDataFrame(
        [(g, i, v) for i, (g, v) in enumerate(rows)],
        "g int, id bigint, v string",
    )
    got = {
        r["g"]: r["v"]
        for r in merge_duplicates(df, "g", "id", {"v": "most_common"}).collect()
    }
    groups: dict[int, list] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    for g, vals in groups.items():
        nn = [v for v in vals if v is not None]
        want = (
            min(  # max count, ties to the smaller value
                Counter(nn).items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            if nn
            else None
        )
        assert got[g] == want, f"group {g}: {got[g]!r} != {want!r} ({vals})"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.sampled_from(["x", "y", "NULL"])),
             min_size=0, max_size=15),
    st.lists(st.one_of(st.none(), st.sampled_from(["x", "z", "NULL"])),
             min_size=0, max_size=15),
)
def test_value_set_drift_matches_python_model(spark, cur_vals, ref_vals):
    """Domain drift == python set algebra where None is a first-class
    domain value distinct from the string 'NULL'."""
    from pyspark_data_quality_spark.operators.drift import value_set_drift

    cur = spark.createDataFrame([(v,) for v in cur_vals], "c string")
    ref = spark.createDataFrame([(v,) for v in ref_vals], "c string")
    if not cur_vals and not ref_vals:
        return  # no rows on either side -> no output row, nothing to model
    row = value_set_drift(cur, ref, ["c"]).first()
    cs, rs = set(cur_vals), set(ref_vals)
    assert row["n_cur_values"] == len(cs)
    assert row["n_ref_values"] == len(rs)
    assert row["n_new"] == len(cs - rs)
    assert row["n_gone"] == len(rs - cs)
    assert row["jaccard"] == round(len(cs & rs) / len(cs | rs), 6)


# ---------------------------------------------------------------------------
# Standing NULL-adversarial sweep (three consecutive review rounds found
# NULL-semantics defects — sentinel collisions, NULL-key join drops).
# One shared fixture where every column mixes a real NULL, the string
# 'NULL', NaN, the empty string, and a NULL group key; every value-bucket
# operator family (drift, profile, impute, merge, diff, keyness) runs
# over it with hand-computed expectations. A future operator that buckets
# values or joins on group keys should be added here.
# ---------------------------------------------------------------------------

_ADV_SCHEMA = "grp string, sval string, nval double, id bigint"
_ADV_CUR = [
    ("g1", "NULL", 1.0, 1),
    ("g1", None, 3.0, 2),
    ("g1", "", 3.0, 3),
    (None, "a", float("nan"), 4),
    (None, None, None, 5),
    ("g2", "NULL", 4.0, 6),
    ("g2", "b", None, 7),
    ("NULL", "a", 5.0, 8),
]
_ADV_REF = [
    ("g1", "NULL", 1.0, 1),
    ("g1", "a", 3.0, 2),
    (None, "a", 2.0, 4),
    (None, "", None, 5),
    ("NULL", None, 5.0, 8),
]


@pytest.fixture(scope="module")
def adv_cur(spark):
    return spark.createDataFrame(_ADV_CUR, _ADV_SCHEMA)


@pytest.fixture(scope="module")
def adv_ref(spark):
    return spark.createDataFrame(_ADV_REF, _ADV_SCHEMA)


def test_adversarial_top_values_buckets(spark, adv_cur):
    from pyspark_data_quality_spark.operators.profile import top_values

    rows = top_values(adv_cur, ["sval"], k=10).collect()
    got = {r["value"]: r["count"] for r in rows}
    # real NULL, 'NULL', and '' are three distinct buckets
    assert got == {None: 2, "NULL": 2, "": 1, "a": 2, "b": 1}


def test_adversarial_column_entropy(spark, adv_cur):
    from pyspark_data_quality_spark.operators.profile import column_entropy

    r = column_entropy(adv_cur, ["sval"]).first()
    assert r["n_distinct"] == 5  # NULL, 'NULL', '', a, b


def test_adversarial_categorical_drift(spark, adv_cur, adv_ref):
    from pyspark_data_quality_spark.operators.drift import (
        categorical_drift,
        psi_summary,
    )

    rows = categorical_drift(adv_cur, adv_ref, ["sval"]).collect()
    by_val = {r["value"]: r for r in rows}
    # exactly one merged row per identity; NULL merged across sides
    assert len(rows) == 5
    assert by_val[None]["p_cur"] == 0.25 and by_val[None]["p_ref"] == 0.2
    assert by_val["NULL"]["p_cur"] == 0.25 and by_val["NULL"]["p_ref"] == 0.2
    assert by_val[""]["p_cur"] == 0.125 and by_val[""]["p_ref"] == 0.2
    assert by_val["b"]["p_cur"] == 0.125 and by_val["b"]["p_ref"] == 0.0
    psi = psi_summary(adv_cur, adv_ref, ["sval"]).first()
    assert psi["psi"] is not None and math.isfinite(psi["psi"])


def test_adversarial_impute_null_group(spark, adv_cur):
    from pyspark_data_quality_spark.operators.repair import impute

    # mean, grouped: the NULL group imputes from ITS OWN values
    got = {
        r["id"]: r["nval"]
        for r in impute(
            adv_cur, ["nval"], strategy="mean", group_by=["grp"]
        ).collect()
    }
    assert got[7] == 4.0          # g2 mean over {4.0}
    # r12 finite-statistics contract (SCALE.md invariant 8): the fill
    # statistic comes from FINITE values only, so a group whose values
    # are all NaN has a NULL statistic and leaves its null in place
    # (missing stays visibly missing) instead of converting it to NaN —
    # and one NaN among finite group values no longer poisons the fill
    assert got[5] is None         # NULL group: only value is NaN -> no fill
    assert math.isnan(got[4])     # NaN is a value, never rewritten
    assert got[8] == 5.0          # string-'NULL' group untouched

    # mode, grouped: exercises the null-safe mode join back
    gots = {
        r["id"]: r["sval"]
        for r in impute(
            adv_cur, ["sval"], strategy="mode", group_by=["grp"]
        ).collect()
    }
    assert gots[2] == ""          # g1 tie 'NULL' vs '' -> smaller value ''
    assert gots[5] == "a"         # NULL group mode from its own rows
    assert gots[1] == "NULL"      # non-null values never rewritten


def test_adversarial_merge_most_common(spark, adv_cur):
    from pyspark_data_quality_spark.operators.merge import merge_duplicates

    rows = merge_duplicates(
        adv_cur, "grp", "id", {"sval": "most_common"}
    ).collect()
    got = {r["grp"]: r["sval"] for r in rows}
    assert len(rows) == 4         # g1, g2, 'NULL', and the real-NULL group
    assert got["g1"] == ""        # NULL excluded; tie 'NULL'/'' -> ''
    assert got[None] == "a"       # NULL group merges like any other
    assert got["g2"] == "NULL"    # the string 'NULL' is a normal value
    assert got["NULL"] == "a"


def test_adversarial_table_diff_null_keys(spark, adv_cur, adv_ref):
    from pyspark_data_quality_spark.operators.diff import table_diff

    rows = table_diff(
        adv_cur, adv_ref, ["grp", "id"], compare_cols=["sval", "nval"]
    ).collect()
    got = {r["status"]: r["n"] for r in rows}
    # (g1,3),(g2,6),(g2,7) added; (g1,2) NULL->'a', (None,4) NaN!=2.0,
    # (None,5) NULL!='' (a real NULL and the empty string are different
    # values), ('NULL',8) 'a'->NULL changed; (g1,1) unchanged. The two
    # NULL-key rows matched as ONE identity each — never added+removed
    assert got == {"added": 3, "changed": 4, "unchanged": 1}


def test_adversarial_reconcile_null_keys(spark, adv_cur):
    from pyspark_data_quality_spark.operators.diff import reconcile_aggregates

    summary = spark.createDataFrame(
        [("g1", 6.0), (None, 9.0), ("g2", 99.0), ("NULL", 8.0)],
        "grp string, total double",
    )
    rows = reconcile_aggregates(
        adv_cur, summary, ["grp"], {"id": "total"}
    ).collect()
    got = {r["grp"]: r["matched"] for r in rows}
    assert got[None] is True      # NULL key reconciles (sum ids 4+5=9)
    assert got["g1"] is True and got["NULL"] is True
    assert got["g2"] is False     # 13 != 99


def test_adversarial_keyness_null_group(spark):
    from pyspark_data_quality_spark.operators.text import distinctive_terms

    df = spark.createDataFrame(
        [
            (None, "zebra zebra common common"),
            (None, "zebra zebra common"),
            ("NULL", "yak yak common common"),
            ("NULL", "yak yak common"),
            ("g", "xray xray common common"),
            ("g", "xray xray common"),
        ],
        "grp string, text string",
    )
    rows = distinctive_terms(df, "text", "grp", k=3, min_count=2).collect()
    top = {r["grp"]: r["token"] for r in rows if r["rank"] == 1}
    # the real-NULL group and the string-'NULL' group are scored apart,
    # each against the REST of the corpus (null-safe group totals)
    assert top[None] == "zebra"
    assert top["NULL"] == "yak"
    assert top["g"] == "xray"


def test_adversarial_value_set_drift(spark, adv_cur, adv_ref):
    from pyspark_data_quality_spark.operators.drift import value_set_drift

    r = value_set_drift(adv_cur, adv_ref, ["sval"]).first()
    # cur {NULL,'NULL','',a,b} vs ref {NULL,'NULL','',a}: b is new,
    # nothing gone, jaccard 4/5
    assert (r["n_cur_values"], r["n_ref_values"]) == (5, 4)
    assert (r["n_new"], r["n_gone"]) == (1, 0)
    assert r["jaccard"] == 0.8


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C", None]),     # source
            st.integers(min_value=0, max_value=50),     # token count
        ),
        min_size=0,
        max_size=40,
    ),
    shares=st.sampled_from(
        [{"A": 1.0}, {"A": 0.5, "B": 0.5}, {"A": 0.7, "B": 0.2, "C": 0.1}]
    ),
    cap=st.one_of(st.none(), st.integers(min_value=0, max_value=200)),
)
def test_token_budget_mix_matches_python_model(spark, rows, shares, cap):
    """token_budget_mix == the greedy python model for arbitrary row
    mixes (zero-token docs, NULL sources, absent target sources,
    token caps) — ids are synthesized as the list index."""
    import hashlib
    import math

    from pyspark_data_quality_spark.operators.split import token_budget_mix

    data = [(i, s, n) for i, (s, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "id bigint, src string, nt bigint")

    norm = {k: v / sum(shares.values()) for k, v in shares.items()}
    tot: dict = {}
    for _, s, n in data:
        if s in norm:
            tot[s] = tot.get(s, 0) + n
    T = (
        min(math.floor(tot[s] / norm[s]) for s in norm)
        if set(tot) == set(norm)
        else 0
    )
    if cap is not None:
        T = min(T, cap)
    bud = {s: math.floor(norm[s] * T) for s in tot}
    expected = {}
    for s in {r[1] for r in data}:
        grp = sorted(
            (r for r in data if r[1] == s),
            key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
        )
        c = 0
        for i, _, n in grp:
            c += n
            expected[i] = (s in bud) and c <= bud[s]

    if not data:
        # empty input: just assert the plan executes to zero rows
        assert (
            token_budget_mix(
                df, "id", "src", shares, token_count_col="nt",
                total_tokens=cap,
            ).count()
            == 0
        )
        return
    got = {
        r["id"]: r["mix_keep"]
        for r in token_budget_mix(
            df, "id", "src", shares, token_count_col="nt", total_tokens=cap
        ).collect()
    }
    assert got == expected


def test_adversarial_psi_by_group(spark, adv_cur, adv_ref):
    from pyspark_data_quality_spark.operators.drift import psi_by_group

    rows = psi_by_group(adv_cur, adv_ref, ["sval"], "grp").collect()
    by_grp = {r["grp"]: r for r in rows}
    # the real-NULL group and the string-'NULL' group score separately,
    # and every segment from either side reports exactly once
    assert set(by_grp) == {"g1", "g2", None, "NULL"}
    for r in rows:
        assert r["psi"] is not None and math.isfinite(r["psi"])
    # g2 exists only in cur -> clamped-ratio drift fires
    assert by_grp["g2"]["drifted"]


def test_adversarial_nb_classifier_labels(spark, adv_cur):
    """Classifier over the adversarial fixture: real-NULL labels are
    excluded from training (no class), while the string 'NULL' is a
    normal class; NULL/empty texts score on priors without crashing."""
    from pyspark_data_quality_spark.operators.classify import (
        predict_nb,
        score_nb_classifier,
        train_nb_classifier,
    )

    # grp as the label, sval as the "text"
    model = train_nb_classifier(adv_cur, "sval", "grp")
    labels = {r["label"] for r in model.classes.collect()}
    assert labels == {"g1", "g2", "NULL"}  # real NULL excluded
    scored = score_nb_classifier(adv_cur, model, "sval", ["id"])
    # every row (incl. NULL/empty text, NULL label) gets |classes| rows
    assert scored.count() == adv_cur.count() * 3
    assert scored.filter(F.col("score").isNull()).count() == 0
    pred = predict_nb(scored, ["id"])
    assert pred.count() == adv_cur.count()
    assert pred.filter(F.col("predicted").isNull()).count() == 0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(min_size=0, max_size=40),  # arbitrary unicode incl. ''
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_bloom_never_false_negative_property(spark, members):
    """Bloom invariant under arbitrary unicode members: every inserted
    value probes True (zero false negatives), whatever the strings."""
    from pyspark_data_quality_spark.operators.bloom import (
        bloom_build,
        bloom_params,
        bloom_probe,
    )

    m, k = bloom_params(max(len(members), 1), 0.01)
    df = spark.createDataFrame([(v,) for v in members], "v string")
    bloom = bloom_build(df, "v", num_bits=m, num_hashes=k)
    misses = (
        bloom_probe(df, bloom, "v", num_bits=m, num_hashes=k)
        .filter("NOT bloom_maybe")
        .count()
    )
    assert misses == 0


def test_clean_lines_c4_rules(spark):
    """Line-level C4 cleaning: repeated lines keep the first occurrence,
    short and unpunctuated lines drop under their flags, NULL passes
    through as NULL."""
    from pyspark_data_quality_spark.functions.text import clean_lines

    doc = "\n".join(
        [
            "Home | About | Contact",
            "This is a real sentence with substance.",
            "Home | About | Contact",
            "  ",
            "ok",
            "Another proper sentence follows here!",
            "trailing fragment without punctuation",
        ]
    )
    df = spark.createDataFrame([(doc,), (None,)], "t string")

    plain = df.select(clean_lines("t").alias("c")).first()["c"]
    # only the repeat is gone; order preserved
    assert plain.split("\n") == [
        "Home | About | Contact",
        "This is a real sentence with substance.",
        "ok",
        "Another proper sentence follows here!",
        "trailing fragment without punctuation",
    ]

    strict = df.select(
        clean_lines(
            "t", min_words=3, require_terminal_punct=True
        ).alias("c")
    ).first()["c"]
    assert strict.split("\n") == [
        "This is a real sentence with substance.",
        "Another proper sentence follows here!",
    ]

    assert (
        df.filter("t IS NULL")
        .select(clean_lines("t").alias("c"))
        .first()["c"]
        is None
    )


def test_gopher_signals_and_gate(spark):
    from pyspark_data_quality_spark.functions.text import (
        gopher_pass,
        gopher_signals,
    )

    prose = (
        "This is a perfectly ordinary paragraph of flowing text.\n"
        "It continues with more full sentences and normal words."
    )
    listicle = "\n".join(f"- item number {i}" for i in range(10))
    teaser = "Read more...\nYou won't believe it...\nClick now..."
    hashtags = "#wow #amazing #deal 1 2 3 4 5 6 7 8 9 10 11 12"
    df = spark.createDataFrame(
        [(0, prose), (1, listicle), (2, teaser), (3, hashtags), (4, None)],
        "id int, t string",
    )
    out = {
        r.id: (r.s, r.ok)
        for r in df.select(
            "id",
            gopher_signals("t").alias("s"),
            gopher_pass("t").alias("ok"),
        ).collect()
    }
    s0 = out[0][0]
    assert s0["alpha_word_ratio"] > 0.9
    assert s0["bullet_line_ratio"] == 0.0
    assert out[0][1] is True

    assert out[1][0]["bullet_line_ratio"] == 1.0
    assert out[1][1] is False  # all-bullet doc fails

    assert out[2][0]["ellipsis_line_ratio"] == 1.0
    assert out[2][1] is False

    s3 = out[3][0]
    assert s3["symbol_word_ratio"] > 0.1
    assert s3["alpha_word_ratio"] < 0.8  # numbers aren't alpha words
    assert out[3][1] is False

    s4 = out[4][0]
    assert s4["alpha_word_ratio"] == 0.0
    assert out[4][1] is False  # NULL/empty fails the alpha floor: a
    # quality gate must not pass contentless documents


def test_language_mix_per_line(spark):
    """Line-level language voting: monolingual docs get entropy 0 and
    share 1.0; a half-and-half doc splits; empty/NULL docs keep a
    zero-line row."""
    import math

    from pyspark_data_quality_spark.operators.text import language_mix

    en = "the cat and the dog went to the market for the day"
    es = "el perro y el gato que van por la calle de la ciudad"
    df = spark.createDataFrame(
        [
            (0, "\n".join([en, en, en])),
            (1, "\n".join([en, en, es, es])),
            (2, ""),
            (3, None),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in language_mix(df, "text", "doc_id").collect()}
    assert len(out) == 4  # spine join keeps every row

    assert out[0].n_lines == 3
    assert out[0].top_lang == "en"
    assert out[0].top_lang_share == 1.0
    assert out[0].lang_entropy == 0.0

    assert out[1].n_lines == 4
    assert out[1].top_lang_share == 0.5
    assert abs(out[1].lang_entropy - math.log(2)) < 1e-6

    for i in (2, 3):
        assert out[i].n_lines == 0
        assert out[i].top_lang is None
        assert out[i].lang_entropy is None


@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=12, deadline=None)
def test_gini_bounds_and_python_model(spark, vals):
    """concentration_report's Gini matches the pure-Python rank formula
    and stays in [0, 1 - 1/n] for non-negative values."""
    from pyspark_data_quality_spark.operators.profile import (
        concentration_report,
    )

    df = spark.createDataFrame([("g", float(v)) for v in vals], ["g", "x"])
    r = concentration_report(df, ["g"], "x").collect()[0]
    n, total = len(vals), sum(vals)
    if total == 0:
        assert r["gini"] is None
        return
    xs = sorted(vals)
    iwx = sum((i + 1) * x for i, x in enumerate(xs))
    expect = 2.0 * iwx / (n * total) - (n + 1.0) / n
    assert r["gini"] == pytest.approx(round(expect, 6), abs=2e-6)
    # 6-dp output rounding can sit half an ulp above the exact bound
    assert -1e-6 <= r["gini"] <= 1 - 1 / n + 1e-6


@given(
    counts=st.lists(st.integers(min_value=1, max_value=9),
                    min_size=3, max_size=24),
    lag=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=12, deadline=None)
def test_acf_bounded_and_matches_python_model(spark, counts, lag):
    """acf_profile on a gapless integer series matches the textbook
    biased estimator and |acf| <= 1 (Cauchy-Schwarz)."""
    from pyspark_data_quality_spark.operators.rollup import acf_profile

    rows = []
    for h, c in enumerate(counts):
        for j in range(c):
            rows.append(("k", f"2024-01-01 {h:02d}:{j:02d}:00"))
    df = spark.createDataFrame(rows, ["k", "ts"]).select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {r["lag"]: r for r in
           acf_profile(df, ["k"], "ts", lags=[lag]).collect()}
    n = len(counts)
    mu = sum(counts) / n
    ss = sum((c - mu) ** 2 for c in counts)
    if lag >= n:
        assert lag not in out
        return
    num = sum(
        (counts[t] - mu) * (counts[t + lag] - mu) for t in range(n - lag)
    )
    got = out[lag]["acf"]
    if ss == 0:
        assert got is None
        return
    assert got == pytest.approx(round(num / ss, 6), abs=2e-6)
    assert abs(got) <= 1 + 1e-9


@given(
    cur_vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1, max_size=25,
    ),
    ref_vals=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False),
        min_size=1, max_size=25,
    ),
)
@settings(max_examples=10, deadline=None)
def test_quantile_normalize_invariants(spark, cur_vals, ref_vals):
    """Outputs are reference values; the mapping is monotone in the
    input; max input maps to the reference max."""
    from pyspark_data_quality_spark.operators.repair import (
        quantile_normalize,
    )

    cur = spark.createDataFrame(
        [("g", float(v)) for v in cur_vals], ["g", "x"]
    )
    ref = spark.createDataFrame(
        [("g", float(v)) for v in ref_vals], ["g", "x"]
    )
    got = sorted(
        (r["x"], r["x_qn"])
        for r in quantile_normalize(cur, "x", ref, ["g"]).collect()
    )
    ref_set = set(ref_vals)
    for _, qn in got:
        assert qn in ref_set
    # monotone: sorted by input -> outputs sorted too
    outs = [qn for _, qn in got]
    assert outs == sorted(outs)
    assert outs[-1] == max(ref_vals)  # cnt_le = n_cur -> idx = n_ref


@given(
    texts=st.lists(
        st.text(
            alphabet=string.ascii_letters + string.digits + " -#._@",
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=12, deadline=None)
def test_pattern_masks_match_python_model(spark, texts):
    """pattern_profile's A/a/9 mask histogram equals the pure-Python
    regex chain (Java and Python agree on explicit ASCII classes)."""
    import re as _re
    from collections import Counter

    from pyspark_data_quality_spark.operators.profile import pattern_profile

    def mask(s):
        return _re.sub(
            "[0-9]", "9", _re.sub("[a-z]", "a", _re.sub("[A-Z]", "A", s))
        )

    df = spark.createDataFrame([(t,) for t in texts], ["v"])
    got = {
        (r["mask"], r["n"]) for r in pattern_profile(df, ["v"]).collect()
    }
    expect = set(Counter(mask(t) for t in texts).items())
    assert got == expect


@given(
    texts=st.lists(
        st.text(min_size=0, max_size=200), min_size=1, max_size=15
    )
)
@settings(max_examples=10, deadline=None)
def test_compression_profile_matches_zlib_model(spark, texts):
    """compression_profile reproduces len(zlib.compress(utf8, 6)) for
    arbitrary unicode text, including empty strings."""
    import zlib as _zlib

    from pyspark_data_quality_spark.operators.text import compression_profile

    df = spark.createDataFrame(list(enumerate(texts)), ["i", "t"])
    rows = {r["i"]: r for r in compression_profile(df, "t").collect()}
    for i, t in enumerate(texts):
        raw = t.encode("utf-8")
        assert rows[i]["n_bytes"] == len(raw)
        assert rows[i]["n_compressed"] == len(_zlib.compress(raw, 6))
        if raw:
            assert rows[i]["compression_ratio"] == pytest.approx(
                len(_zlib.compress(raw, 6)) / len(raw)
            )
        else:
            assert rows[i]["compression_ratio"] is None


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.sampled_from(["x", "y", None]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_fd_confidence_matches_python_model(spark, rows):
    """g3 confidence against a pure-Python majority-survivor model,
    NULL-as-a-group semantics included."""
    from collections import Counter

    from pyspark_data_quality_spark.operators.consistency import (
        fd_confidence,
    )

    df = spark.createDataFrame(rows, "d string, p string")
    r = fd_confidence(df, [("d", "p")]).collect()[0]

    groups: dict = {}
    for d, p in rows:
        groups.setdefault(d, Counter())[p] += 1
    agree = sum(c.most_common(1)[0][1] for c in groups.values())
    n = len(rows)
    assert r["n_rows"] == n and r["n_classes"] == len(groups)
    assert r["n_violating_rows"] == n - agree
    assert r["confidence"] == round(agree / n, 6)
    assert r["holds"] == (agree == n)
    assert 0.0 <= r["confidence"] <= 1.0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=2,
        max_size=60,
    )
)
def test_hbos_matches_python_model(spark, vals):
    """Single-column HBOS against a pure-Python histogram model: same
    finite bounds, same clamped bins, same ln(max/count) scores."""
    import math as _math

    from pyspark_data_quality_spark.operators.repair import hbos_scores

    bins = 8
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, x double"
    )
    got = {r["id"]: r["hbos"]
           for r in hbos_scores(df, ["x"], bins=bins).collect()}

    lo, hi = min(vals), max(vals)
    width = (hi - lo) / bins

    def bin_of(v):
        if width == 0:
            return 0
        return min(bins - 1, max(0, int(_math.floor((v - lo) / width))))

    counts: dict = {}
    for v in vals:
        counts[bin_of(v)] = counts.get(bin_of(v), 0) + 1
    mx = max(counts.values())
    for i, v in enumerate(vals):
        assert got[i] == round(_math.log(mx / counts[bin_of(v)]), 6), (
            i, v, got[i]
        )


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e4, max_value=1e4,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=5,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=1000),
)
def test_drift_screen_null_case_properties(spark, vals, shift):
    """Identical sides screen to ks=0/p=1/undrifted; a disjoint-support
    shift screens to ks=1 with the smallest possible p — the two
    endpoints any screening statistic must honor."""
    from pyspark_data_quality_spark.operators.drift import drift_screen

    df = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    )
    same = {r["column"]: r
            for r in drift_screen(df, df, ["x"], bins=8).collect()}
    assert same["x"]["ks"] == 0.0 and same["x"]["p_value"] == 1.0
    assert not same["x"]["drifted"]

    span = max(vals) - min(vals)
    moved = df.select((F.col("x") + span + float(shift)).alias("x"))
    far = {r["column"]: r
           for r in drift_screen(moved, df, ["x"], bins=8).collect()}
    # every shifted value clamps into the TOP edge bin of the reference
    # axis while the reference mass sits strictly below it only when
    # the reference itself isn't single-binned; ks is 1 - (ref mass
    # already in the top bin)/n_ref, and must exceed 0 whenever the
    # reference occupies >1 bin
    if span > 0:
        assert far["x"]["ks"] > 0.0
        assert far["x"]["p_value"] <= same["x"]["p_value"]


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=-50, max_value=50,
                      allow_nan=False, allow_infinity=False),
            st.none(),
            st.just(float("nan")),
        ),
        min_size=1,
        max_size=25,
    ),
    st.floats(min_value=0.05, max_value=0.9),
)
def test_ewma_closed_form_matches_recurrence(spark, values, alpha):
    """The batch face's closed form a^t*(target + alpha*sum a^(-j)x_j)
    must equal the literal z = alpha*x + (1-alpha)*z recurrence (the
    streaming face's math) on arbitrary series with NULL/NaN gaps —
    the identity the oracle certification and stream/batch parity both
    lean on."""
    from pyspark_data_quality_spark.streaming.anomaly import streaming_ewma

    target = 7.0
    rows = [("k", i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        r["t"]: r["ewma"]
        for r in streaming_ewma(
            df, ["k"], "v", "t", target=target, sigma=1.0, alpha=alpha
        ).collect()
    }

    z = target
    for i, v in enumerate(values):
        if v is None or math.isnan(v):
            assert got[i] is None, (i, got[i])
            continue
        z = alpha * v + (1.0 - alpha) * z
        assert got[i] is not None and abs(got[i] - z) < 1e-6, (i, got[i], z)


@settings(max_examples=4, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["m1", "m2", "m3"]),
        st.lists(
            st.floats(min_value=-100, max_value=100,
                      allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=3,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_metrics_regression_matches_python_model(spark, series, lookback):
    """metrics_regression's baseline stats and verdict must match a
    pure-Python replay (trailing-lookback mean/stddev, flat-baseline
    flagging, insufficient-history gating) for arbitrary histories."""
    import statistics

    from pyspark_data_quality_spark.operators.anomaly import (
        metrics_regression,
    )

    hist_rows = [
        (k, i + 1, v) for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    cur_rows = [(k, 99, 1.5) for k in series]
    hist = spark.createDataFrame(
        hist_rows, "metric string, run_seq int, value double"
    )
    cur = spark.createDataFrame(
        cur_rows, "metric string, run_seq int, value double"
    )
    out = {r["metric"]: r for r in metrics_regression(
        hist, cur, key_cols=["metric"], lookback=lookback,
        threshold=3.0, min_periods=3,
    ).collect()}

    for k, vals in series.items():
        tail = vals[-lookback:]
        r = out[k]
        assert r["n_baseline"] == len(tail)
        assert abs(r["baseline_mean"] - sum(tail) / len(tail)) < 1e-5
        assert abs(r["prev_value"] - vals[-1]) < 1e-12
        if len(tail) < 3:
            assert r["status"] == "insufficient_history"
        else:
            sd = statistics.stdev(tail) if len(tail) > 1 else 0.0
            if sd > 0:
                z = (1.5 - sum(tail) / len(tail)) / sd
                expect = "regression" if abs(z) > 3.0 else "ok"
            else:
                expect = ("regression" if 1.5 != tail[0] else "ok")
            assert r["status"] == expect, (k, tail, r)
