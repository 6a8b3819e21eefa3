"""Text functions, dedup, and similarity-search operator tests."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark.functions.text import (
    char_ngrams,
    lang_id,
    normalize_text,
    token_count,
    word_shingles,
)
from pyspark_data_quality_spark.functions.vectors import cosine_similarity, dot, norm
from pyspark_data_quality_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    exact_dup_groups,
    jaccard,
    minhash_near_dup_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from pyspark_data_quality_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    self_topk,
)
from pyspark_data_quality_spark.operators.text import text_profile


@pytest.fixture
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick  brown fox jumps over the lazy dog"),  # exact dup after norm
        (3, "The quick brown fox jumps over the lazy cat"),   # near dup
        (4, "Completely different content about spark engines and shuffles"),
        (5, ""),                                              # empty text
        (6, "el la de que y los datos son grandes aqui"),     # spanish-ish
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_text_functions_basics(spark, docs):
    out = docs.select(
        "doc_id",
        normalize_text("text").alias("norm"),
        token_count("text").alias("tc"),
        F.size(char_ngrams("text", 3)).alias("n3"),
        F.size(word_shingles("text", 3)).alias("ws"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["norm"] == by_id[2]["norm"]
    assert by_id[1]["tc"] == 9
    assert by_id[5]["tc"] == 0
    assert by_id[5]["n3"] == 0  # no descending-sequence blowup on empty
    assert by_id[5]["ws"] == 0
    assert by_id[1]["n3"] == len(by_id[1]["norm"]) - 2


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[6] == "es"
    assert out[5] == "und"


def test_text_profile_schema(spark, docs):
    prof = text_profile(docs)
    cols = set(prof.columns)
    assert {"token_count", "quality_score", "lang_pred", "fingerprint", "fingerprint_md5"} <= cols
    r = {x["doc_id"]: x for x in prof.collect()}
    assert r[1]["fingerprint"] == r[2]["fingerprint"]  # normalized exact dups
    assert r[1]["fingerprint_md5"] == r[2]["fingerprint_md5"]


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "text", "doc_id", keep="min")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5, 6]  # doc 2 deduped into doc 1

    groups = exact_dup_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["ids"] == [1, 2]


def test_minhash_near_dup(spark, docs):
    pairs = minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=64, num_bands=16, threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got          # exact dup
    assert (1, 3) in got or (2, 3) in got  # near dup (one word differs)
    assert all(4 not in p for p in got)    # distinct doc never pairs

    kept = sorted(r["doc_id"] for r in minhash_dedup(
        docs, "text", "doc_id", num_hashes=64, num_bands=16, threshold=0.5
    ).collect())
    assert 1 in kept and 2 not in kept and 4 in kept


def test_minhash_md5_family_matches_python_model(spark):
    """hash_family='md5' (the dq_minhash_pairs certification face) against
    an INDEPENDENT pure-python replay of the whole pipeline — shingles,
    md5 signature, banding (literal slice equality), bucket cap, ordered
    pairs, hash-set jaccard — on a corpus with planted near-dups."""
    import hashlib
    import itertools
    import re

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                                   # exact dup
        (3, base.replace("lazy", "sleepy")),         # near dup
        (4, "completely different words live here today my friend ok"),
        (5, None),
        (6, "too short"),                            # < 3 tokens -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    NH, NB, R, SEED, THR = 24, 6, 4, 7, 0.5
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            df, "text", "doc_id", num_hashes=NH, num_bands=NB,
            shingle="word", shingle_n=3, threshold=THR, seed=SEED,
            hash_family="md5",
        ).collect()
    }

    ws = re.compile(r"\s+", re.ASCII)

    def md5int(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    model = {}
    for did, t in rows:
        if t is None:
            continue
        toks = [x for x in ws.sub(" ", t.lower()).strip().split(" ") if x]
        if len(toks) < 3:
            continue
        ss = {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
        hh = {md5int(f"{SEED}:{s}") for s in ss}
        sig = [min(md5int(f"{SEED}:{i}:{h}") for h in hh) for i in range(NH)]
        model[did] = (hh, sig)
    expected = {}
    for a, b in itertools.combinations(sorted(model), 2):
        ha, sa = model[a]
        hb, sb = model[b]
        shares_band = any(
            sa[j * R:(j + 1) * R] == sb[j * R:(j + 1) * R] for j in range(NB)
        )
        if not shares_band:
            continue
        jac = round(len(ha & hb) / len(ha | hb), 6)
        if jac >= THR:
            expected[(a, b)] = jac
    assert got == expected
    assert (1, 2) in got and got[(1, 2)] == 1.0

    with pytest.raises(ValueError, match="hash_family"):
        minhash_near_dup_pairs(df, "text", "doc_id", hash_family="sha1")
    with pytest.raises(ValueError, match="impl='np'"):
        minhash_near_dup_pairs(
            df, "text", "doc_id", hash_family="md5", impl="expr"
        )


def test_simhash_md5_family_matches_python_model(spark):
    """hash_family='md5' (the dq_simhash_pairs certification face):
    operator pairs == an independent python replay of multiset
    tokenize -> md5 vote-packed simhash -> 4x16-bit banding -> hamming
    verify, on a corpus with planted near-dups."""
    import hashlib
    import itertools
    import re

    from pyspark_data_quality_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),
        (2, base),                                    # identical -> hamming 0
        (3, base.replace("sigma", "sygma")),          # near dup
        (4, "utterly different content words here now indeed truly ok"),
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    SEED, MH, NB = 9, 8, 4
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            df, "text", "doc_id", max_hamming=MH, num_bands=NB,
            seed=SEED, allow_probabilistic=True, hash_family="md5",
        ).collect()
    }

    ws = re.compile(r"\s+", re.ASCII)
    sigs = {}
    for did, t in rows:
        if t is None:
            continue
        toks = [x for x in ws.sub(" ", t.lower()).strip().split(" ") if x]
        if not toks:
            continue
        hs = [int(hashlib.md5(f"{SEED}:{x}".encode()).hexdigest()[:16], 16)
              for x in toks]
        p = 0
        for j in range(64):
            if sum(1 if (h >> j) & 1 else -1 for h in hs) > 0:
                p |= 1 << j
        sigs[did] = p
    expected = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        pa, pb = sigs[a], sigs[b]
        shares = any(
            (pa >> (j * 16)) & 0xFFFF == (pb >> (j * 16)) & 0xFFFF
            for j in range(NB)
        )
        ham = bin(pa ^ pb).count("1")
        if shares and ham <= MH:
            expected[(a, b)] = ham
    assert got == expected
    assert got[(1, 2)] == 0  # exact dup

    with pytest.raises(ValueError, match="hash_family"):
        simhash_near_dup_pairs(df, "text", "doc_id", hash_family="sha1")
    with pytest.raises(ValueError, match="impl='np'"):
        simhash_near_dup_pairs(
            df, "text", "doc_id", hash_family="md5", impl="expr"
        )


def test_embedding_lsh_md5_planes_match_python_model(spark):
    """planes='md5' + impl='expr' (the dq_embedding_pairs_lsh
    certification face): operator pairs == an independent python replay
    of the Box-Muller planes, MSB-first sign-bit keys, bucketing, and
    cosine verify."""
    import hashlib
    import itertools
    import math

    from pyspark_data_quality_spark.functions.vectors import md5_hyperplanes
    from pyspark_data_quality_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    T, P, D, SEED, THR = 3, 4, 8, 11, 0.8
    base = [1.0, 0.5, -0.25, 2.0, 0.0, -1.0, 0.75, 0.125]
    near = list(base)
    near[2] = -0.2                      # high-cosine neighbor
    rows = [
        (1, base), (2, base), (3, near),
        (4, [(-1.0) ** j * (j + 1.0) for j in range(D)]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=THR, dim=D,
            num_planes=P, num_tables=T, seed=SEED,
            planes="md5", impl="expr",
        ).collect()
    }

    # independent plane replay straight from the documented formula
    def u(tag):
        return (int(hashlib.md5(tag.encode()).hexdigest()[:6], 16) + 0.5) / 16777216.0

    planes = [
        [[math.sqrt(-2 * math.log(u(f"hp1|{SEED}|{t}|{p}|{j}")))
          * math.cos(2 * math.pi * u(f"hp2|{SEED}|{t}|{p}|{j}"))
          for j in range(D)] for p in range(P)]
        for t in range(T)
    ]
    assert planes == md5_hyperplanes(T, P, D, SEED)

    vecs = {i: v for i, v in rows if v is not None}
    keys = {
        (i, t): sum(
            (1 if sum(x * w for x, w in zip(v, planes[t][p])) > 0 else 0)
            * 2 ** (P - 1 - p)
            for p in range(P)
        )
        for i, v in vecs.items()
        for t in range(T)
    }
    expected = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        if not any(keys[(a, t)] == keys[(b, t)] for t in range(T)):
            continue
        va, vb = vecs[a], vecs[b]
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        cos = round(sum(x * y for x, y in zip(va, vb)) / (na * nb), 6)
        if cos >= THR:
            expected[(a, b)] = cos
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k], abs=1e-9)
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got  # planted high-cosine neighbor

    with pytest.raises(ValueError, match="planes"):
        embedding_near_dup_pairs(
            df, "embedding", "vec_id", dim=D, planes="xorshift"
        )


def test_hyperplane_seq_kernel_bit_identical_to_expr_fold(spark):
    """impl='seq' (the r15 Arrow certification-face kernel) must emit
    BIT-IDENTICAL bucket keys to the interpreted expression fold for
    every row — same dim-sequential IEEE accumulation order, same
    MSB-first packing, same NULL (key NULL) and wrong-width (key 0)
    semantics. The DuckDB oracles replay the fold's exact sign bits, so
    any divergence here is a certification break, not a perf detail."""
    import hashlib

    from pyspark_data_quality_spark.functions.vectors import md5_hyperplanes
    from pyspark_data_quality_spark.operators.dedup import (
        _explode_hyperplane_buckets,
    )

    T, P, D, SEED = 4, 8, 16, 7
    tables = md5_hyperplanes(T, P, D, SEED)

    # deterministic awkward floats: md5-uniforms in (-0.5, 0.5), plus
    # NULL and wrong-width rows to pin the guard semantics
    def u(tag):
        return (
            int(hashlib.md5(tag.encode()).hexdigest()[:6], 16) + 0.5
        ) / 16777216.0 - 0.5

    rows = [(i, [u(f"v|{i}|{j}") for j in range(D)]) for i in range(40)]
    rows += [
        (100, None),                              # NULL vector
        (101, [1.0, 2.0]),                        # wrong width
        (102, [0.0] * D),                         # zero vector
        (103, [None] + [1.0] * (D - 1)),          # NULL element
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    def keys(impl):
        out = _explode_hyperplane_buckets(df, "v", tables, impl, ["vec_id"])
        return {
            (r["vec_id"], r["_t"]): r["_k"] for r in out.collect()
        }

    k_expr = keys("expr")
    k_seq = keys("seq")
    assert k_seq == k_expr
    # degenerate rows all fold to key 0 (NULL dot -> bit 0 every plane)
    for vid in (100, 101, 102, 103):
        assert k_expr[(vid, 0)] == 0
    # non-degenerate: the 40 real rows spread over many buckets
    assert len({v for (i, _), v in k_seq.items() if i < 100}) > 8


def test_ngram_jaccard_bruteforce_matches_lsh(spark, docs):
    bf = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, use_lsh_blocking=False
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5,
            use_lsh_blocking=True, num_hashes=128, num_bands=64,
        ).collect()
    }
    # LSH with aggressive banding should recover every bruteforce pair here.
    assert set(lsh) == set(bf)
    for p in bf:
        assert lsh[p] == pytest.approx(bf[p])


def test_simhash(spark, docs):
    sh = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", simhash("text").alias("sh")).collect()}
    assert sh[1] == sh[2]  # same tokens after normalization
    assert sh[5] is None   # empty text -> NULL
    pairs = simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=16, allow_probabilistic=True
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got

    # numeric recall floor vs the exact all-pairs hamming twin (the driver
    # entry is rows-only, so this assertion keeps the approximation honest).
    # 4 x 16-bit bands pigeonhole-guarantee recall 1.0 for hamming <= 3;
    # measure there (above 3 the banding is honestly approximate).
    hams = {k: v for k, v in sh.items() if v is not None}
    ids = sorted(hams)

    def exact_pairs(h):
        return {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((hams[a] ^ hams[b]) & ((1 << 64) - 1)).count("1") <= h
        }

    exact3 = exact_pairs(3)
    got3 = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert exact3, "fixture must contain at least one true near-dup pair"
    assert got3 <= exact3  # candidates are hamming-verified: no false positives
    assert len(got3 & exact3) / len(exact3) >= 1.0  # pigeonhole regime
    assert got <= exact_pairs(16)  # no false positives at 16 either


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0]), (3, [0.0, 0.0], [1.0, 1.0])],
        ["id", "a", "b"],
    )
    rows = {r["id"]: r for r in df.select(
        "id", dot("a", "b").alias("d"), cosine_similarity("a", "b").alias("c")
    ).collect()}
    assert rows[1]["d"] == 1.0 and rows[1]["c"] == pytest.approx(1.0)
    assert rows[2]["c"] == pytest.approx(0.0)
    assert rows[3]["c"] is None  # zero-norm -> NULL, no div-0


@pytest.fixture
def vecs(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(40):
        base = [rnd.gauss(0, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
        # make 30+i a near-copy of i for i<5
        if i < 5:
            rows.append((100 + i, [float(x + rnd.gauss(0, 0.01)) for x in base]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(spark, vecs):
    out = self_topk(vecs, k=3, query_ids=[0, 1, 2])
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda x: x["rank"])] == [1, 2, 3]
        top = min(rs, key=lambda x: x["rank"])
        assert top["neighbor_id"] == 100 + q  # the planted near-copy wins


def test_embedding_near_dup_lsh_vs_bruteforce(spark, vecs):
    bf = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(
        vecs, "embedding", "vec_id", threshold=0.999, brute_force=True
    ).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(
        vecs, "embedding", "vec_id", threshold=0.999, num_planes=8, num_tables=8
    ).collect()}
    planted = {(i, 100 + i) for i in range(5)}
    assert planted <= bf
    assert lsh <= bf            # LSH never invents pairs (verify step)
    assert planted <= lsh       # and finds the planted near-copies
    # numeric recall floor vs the exact twin (driver entry is rows-only,
    # so this assertion is what keeps the approximation honest)
    assert len(lsh & bf) / len(bf) >= 0.8


def test_lsh_topk_recall(spark, vecs):
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(vecs, queries, k=3)
    approx = lsh_topk(vecs, queries, k=3, num_planes=6, num_tables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # top-1 (self) and the planted near-copy must be recalled
    for q in range(3):
        assert (q, q) in a and (q, 100 + q) in a
    assert len(a & e) / len(e) >= 0.5

    # md5 planes (the dq_lsh_topk oracle face) keep the same contract:
    # deterministic ranking, self always recalled
    m = lsh_topk(vecs, queries, k=3, num_planes=6, num_tables=8,
                 planes="md5")
    md = {(r["query_id"], r["neighbor_id"]) for r in m.collect()}
    for q in range(3):
        assert (q, q) in md
    with pytest.raises(ValueError, match="planes"):
        lsh_topk(vecs, queries, k=3, planes="xorshift")


def test_hot_bucket_cap(spark):
    # 300 identical docs (one giant exact-dup cluster) + 2 near-dups.
    # With the cap, the cluster's oversized buckets are dropped instead of
    # generating O(cluster^2) candidate pairs; the small near-dup pair in
    # its own buckets is still found.
    rows = [(i, "all work and no play makes jack a dull boy") for i in range(300)]
    rows += [
        (1000, "spark shuffles hash partitions across the executor fleet"),
        (1001, "spark shuffles hash partitions across the executor crew"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_near_dup_pairs(
        df, "text", "doc_id", num_hashes=64, num_bands=16,
        threshold=0.5, max_bucket_size=50,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1000, 1001) in got
    # no pair from the giant cluster survives (its buckets exceed the cap)
    assert all(a >= 1000 for a, _ in got)


def test_embedding_pairs_dim_param_and_empty(spark, vecs):
    with_dim = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(
        vecs, "embedding", "vec_id", threshold=0.999, num_planes=8,
        num_tables=8, dim=8,
    ).collect()}
    probed = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(
        vecs, "embedding", "vec_id", threshold=0.999, num_planes=8, num_tables=8,
    ).collect()}
    assert with_dim == probed  # explicit dim produces the identical result

    empty = vecs.limit(0)
    assert embedding_near_dup_pairs(empty, "embedding", "vec_id").count() == 0
    assert lsh_topk(
        empty,
        empty.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
    ).count() == 0


def test_text_profile_np_matches_expr(spark, docs):
    cols = ["doc_id", "token_count", "bpe_token_count", "stopword_ratio",
            "punct_ratio", "mean_word_len", "quality_score", "lang_pred",
            "fingerprint", "fingerprint_md5"]
    docs = docs.union(
        spark.createDataFrame([(99, None)], docs.schema)  # null text row
    )
    a = {tuple(r) for r in text_profile(docs, impl="np").select(*cols).collect()}
    b = {tuple(r) for r in text_profile(docs, impl="expr").select(*cols).collect()}
    assert a == b  # the Arrow path must be value-identical to expressions
    null_row = next(r for r in a if r[0] == 99)
    assert null_row[1] is None  # null text -> NULL count, not 0


def test_ivf_topk_recall(spark, vecs):
    from pyspark_data_quality_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(
        vecs, num_centroids=8, sample_size=100, seed=42
    )
    assert len(cents) == 8 and len(cents[0]) == 8
    # deterministic training: same corpus -> identical centroids
    assert cents == train_ivf_centroids(vecs, num_centroids=8, sample_size=100, seed=42)

    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(vecs, queries, k=3)
    approx = ivf_topk(vecs, queries, centroids=cents, k=3, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    for q in range(3):
        assert (q, q) in a          # self always recalled
        assert (q, 100 + q) in a    # planted near-copy lands in same list
    assert len(a & e) / len(e) >= 0.5


def test_ivf_preassigned_lists(spark, vecs, tmp_path):
    from pyspark_data_quality_spark.operators.similarity import (
        assign_ivf_lists,
        ivf_topk,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(vecs, num_centroids=8, sample_size=100, seed=42)
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned = assign_ivf_lists(vecs, centroids=cents)
    assert "ivf_list" in assigned.columns

    # materialize once (the deployment pattern: write the assigned corpus,
    # reuse it across query batches), then query against the stored copy
    d = tmp_path / "ivf_corpus"
    assigned.write.mode("overwrite").parquet(str(d))
    stored = spark.read.parquet(str(d))

    fresh = ivf_topk(vecs, queries, centroids=cents, k=3, nprobe=4)
    reused = ivf_topk(
        stored, queries, centroids=cents, k=3, nprobe=4, list_col="ivf_list"
    )
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, reused.collect()))

    # the reused per-batch plan fires NO corpus-side assignment UDF (the
    # only Python eval left is the broadcast query-probe UDF) and reads
    # the stored list id straight off the parquet scan
    def n_udf_evals(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")

    assert n_udf_evals(reused) < n_udf_evals(fresh)
    reused_plan = reused._jdf.queryExecution().executedPlan().toString()
    assert "ivf_list" in reused_plan and "ReadSchema" in reused_plan

    with pytest.raises(ValueError, match="list_col"):
        ivf_topk(vecs, queries, centroids=cents, list_col="nope")


def test_ivf_partitioned_store_prunes(spark, vecs, tmp_path):
    # the full 100-TB shape: corpus written partitioned BY list id, so a
    # query batch's nprobe lists prune at the FILE level (dynamic
    # partition pruning from the broadcast probe side)
    from pyspark_data_quality_spark.operators.similarity import (
        assign_ivf_lists,
        ivf_topk,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(vecs, num_centroids=8, sample_size=100, seed=42)
    d = str(tmp_path / "ivf_store")
    assign_ivf_lists(vecs, centroids=cents).write.partitionBy(
        "ivf_list"
    ).parquet(d)
    stored = spark.read.parquet(d)
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(
        stored, queries, centroids=cents, k=3, nprobe=4, list_col="ivf_list"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    fresh = ivf_topk(vecs, queries, centroids=cents, k=3, nprobe=4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, fresh.collect()))


def test_train_ivf_centroids_empty_corpus(spark, vecs):
    from pyspark_data_quality_spark.operators.similarity import train_ivf_centroids

    with pytest.raises(ValueError, match="empty corpus"):
        train_ivf_centroids(vecs.limit(0))
    # all-null vectors are equally empty
    nulls = vecs.withColumn("embedding", F.lit(None).cast("array<float>"))
    with pytest.raises(ValueError, match="empty corpus"):
        train_ivf_centroids(nulls)


def test_dedup_components(spark):
    from pyspark_data_quality_spark.operators.dedup import dedup_components

    # chain 1-2-3, star {10,11}~12, singleton pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 12), (11, 12), (20, 21)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_minhash_dedup_connected_vs_greedy(spark):
    from pyspark_data_quality_spark.operators.dedup import minhash_dedup

    # star shape: docs 1 and 2 are both near-dups of 3 (and of each other
    # weakly) — transitive clustering must keep ONE of the cluster.
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        (1, base + " extra one"),
        (2, base + " extra two"),
        (3, base),
        (9, "completely different text about distributed shuffle engines ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(num_hashes=64, num_bands=32, threshold=0.5)
    greedy = sorted(r["doc_id"] for r in minhash_dedup(df, "text", "doc_id", **kw).collect())
    conn = sorted(r["doc_id"] for r in minhash_dedup(
        df, "text", "doc_id", connected=True, **kw
    ).collect())
    assert conn == [1, 9]          # one survivor per component
    assert set(conn) <= set(greedy)  # greedy keeps a superset


def test_winnow_fingerprints(spark):
    from pyspark_data_quality_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "abcdefghij"),          # identical -> identical fingerprint set
            (3, "XYZabcdefghijXYZ"),    # shares a long substring with 1
            (4, "zz"),                  # shorter than k -> empty
            (5, "abcdefg"),             # k-grams exist but < w windows -> empty
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["fps"]
        for r in df.select(
            "doc_id", winnow_fingerprints("text", k=5, w=4).alias("fps")
        ).collect()
    }
    assert out[1] == out[2] and len(out[1]) > 0
    # winnowing guarantee: any shared substring of length >= k+w-1 (=8)
    # contributes at least one shared fingerprint
    assert set(out[1]) & set(out[3])
    assert out[4] == [] and out[5] == []
    # sorted distinct
    assert out[1] == sorted(set(out[1]))


def test_pii_summary_crafted(spark):
    from pyspark_data_quality_spark.operators.text import pii_summary

    df = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or bob@test.org"),
            (2, "visit https://example.com/x and http://a.b/c now"),
            (3, "server at 10.0.0.1 and 192.168.1.255"),
            (4, "call +1 555-123-4567 today"),
            (5, "nothing sensitive here"),
            (6, None),
        ],
        "id int, text string",
    )
    out = {r["pii_type"]: r for r in pii_summary(df, "text").collect()}
    assert out["email"]["docs_affected"] == 1 and out["email"]["total_matches"] == 2
    assert out["url"]["docs_affected"] == 1 and out["url"]["total_matches"] == 2
    assert out["ipv4"]["docs_affected"] == 1 and out["ipv4"]["total_matches"] == 2
    assert out["phone"]["docs_affected"] == 1
    assert set(out) == {"email", "url", "phone", "ipv4"}


def test_contamination_pairs(spark):
    from pyspark_data_quality_spark.operators.text import contamination_pairs

    probe = spark.createDataFrame(
        [(100, "the secret benchmark question about spark shuffles")],
        "doc_id int, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix text THE SECRET BENCHMARK QUESTION ABOUT SPARK SHUFFLES suffix"),
            (2, "completely unrelated document content here"),
            (3, "short"),
        ],
        "doc_id int, text string",
    )
    rows = contamination_pairs(docs, probe, "text", "doc_id", n=8, threshold=0.5).collect()
    assert {r["doc_id"] for r in rows} == {1}  # full probe containment
    assert rows[0]["probe_id"] == 100 and rows[0]["containment"] > 0.9


def test_contamination_index_matches_cross(spark, docs):
    from pyspark_data_quality_spark.operators.text import contamination_pairs

    # real-ish corpus: reuse the docs fixture as both corpus and probes
    # (every doc fully contains itself; near-dups partially overlap), so
    # the candidate structure is non-trivial
    probes = docs.limit(6)
    kw = dict(n=8, threshold=0.1)
    for impl in ("np", "expr"):
        idx = contamination_pairs(
            docs, probes, "text", "doc_id", impl=impl, prefilter="index", **kw
        )
        cross = contamination_pairs(
            docs, probes, "text", "doc_id", impl=impl, prefilter="cross", **kw
        )
        assert sorted(map(tuple, idx.collect())) == sorted(
            map(tuple, cross.collect())
        ), impl

    # the index path never crossJoins: its plan joins on the gram hash
    plan = contamination_pairs(
        docs, probes, "text", "doc_id", **kw
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan

    with pytest.raises(ValueError, match="zero-overlap"):
        contamination_pairs(
            docs, probes, "text", "doc_id", threshold=0.0, prefilter="index"
        )
    with pytest.raises(ValueError, match="unknown prefilter"):
        contamination_pairs(docs, probes, "text", "doc_id", prefilter="nope")


def test_contamination_bloom_matches_exact(spark, docs):
    """The bloom-prefiltered path is row-identical to the exact index
    path (no false negatives by construction; false positives join
    nothing), in both probe-index join modes, and tiny bitmaps (high
    fpp) still stay exact — only the prefilter gets weaker."""
    from pyspark_data_quality_spark.operators.text import (
        contamination_bloom,
        contamination_pairs,
    )

    probes = docs.limit(6)
    kw = dict(n=8, threshold=0.1)
    exact = sorted(
        map(
            tuple,
            contamination_pairs(
                docs, probes, "text", "doc_id", prefilter="index", **kw
            ).collect(),
        )
    )
    assert exact  # fixture must produce pairs or the test proves nothing
    via_bloom = contamination_bloom(
        docs, probes, "text", "doc_id", expected_grams=2000, **kw
    )
    assert sorted(map(tuple, via_bloom.collect())) == exact
    # DEFAULT join mode is the shuffle path: the bloom shrinks the doc
    # side only, so broadcasting the full probe index by default would
    # defeat this operator's entire reason to exist (huge probe sets)
    # (the bloom BITMAP join is legitimately broadcast — a handful of
    # 64-bit words — so assert on the shuffle-hash hint the probe-index
    # join carries, not on broadcast absence)
    dplan = via_bloom._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in dplan
    # explicit opt-in broadcast for genuinely small probe indexes:
    # the probe-index join stops shuffling entirely
    bcast = contamination_bloom(
        docs, probes, "text", "doc_id",
        expected_grams=2000, broadcast=True, **kw
    )
    assert sorted(map(tuple, bcast.collect())) == exact
    assert "ShuffledHashJoin" not in (
        bcast._jdf.queryExecution().executedPlan().toString()
    )
    # shuffle-join mode for huge probe sets: same rows, and the probe
    # index is PINNED to a shuffle hash join (same contract as
    # contamination_pairs — AQE must not demote it back to broadcast)
    shuf = contamination_bloom(
        docs, probes, "text", "doc_id",
        expected_grams=2000, broadcast=False, **kw
    )
    assert sorted(map(tuple, shuf.collect())) == exact
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    # deliberately undersized bitmap: many false positives, same rows
    tiny = contamination_bloom(
        docs, probes, "text", "doc_id",
        num_bits=256, num_hashes=2, **kw
    )
    assert sorted(map(tuple, tiny.collect())) == exact

    with pytest.raises(ValueError, match="zero-overlap|threshold"):
        contamination_bloom(
            docs, probes, "text", "doc_id", threshold=0.0,
            expected_grams=2000, n=8,
        )
    with pytest.raises(ValueError, match="expected_grams"):
        contamination_bloom(docs, probes, "text", "doc_id", **kw)


def test_contamination_shuffle_join_matches_broadcast(spark, docs):
    """broadcast=False (huge-probe-set path) swaps the broadcast for a
    shuffle hash join on the gram key: same output, no broadcast of the
    probe index in the plan."""
    from pyspark_data_quality_spark.operators.text import contamination_pairs

    probes = docs.limit(6)
    kw = dict(n=8, threshold=0.1, prefilter="index")
    bcast = contamination_pairs(docs, probes, "text", "doc_id", **kw)
    shuf = contamination_pairs(
        docs, probes, "text", "doc_id", broadcast=False, **kw
    )
    assert sorted(map(tuple, shuf.collect())) == sorted(
        map(tuple, bcast.collect())
    )
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "ShuffledHashJoin" in plan

    with pytest.raises(ValueError, match="broadcast-only"):
        contamination_pairs(
            docs, probes, "text", "doc_id",
            threshold=0.0, prefilter="cross", broadcast=False,
        )


def test_vocab_top_k(spark):
    from pyspark_data_quality_spark.operators.text import vocab_top_k

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b z")], "id int, text string"
    )
    rows = vocab_top_k(df, "text", k=2).collect()
    assert [(r["token"], r["n"], r["rank"]) for r in rows] == [("a", 4, 1), ("b", 3, 2)]


def test_dedup_components_nonconvergence_warns(spark):
    import warnings

    from pyspark_data_quality_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a bigint, id_b bigint"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup_components(chain, max_iter=2)  # diameter 6 >> 2
        out.collect()
        assert any("did not converge" in str(x.message) for x in w)
    # with enough rounds: one component, no warning
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        full = dedup_components(chain, max_iter=10).collect()
        assert {r["component"] for r in full} == {0}
        assert not any("did not converge" in str(x.message) for x in w2)


def test_dedup_components_chain_converges_in_log_rounds(spark):
    # pointer jumping must collapse a diameter-149 chain well inside 10
    # rounds (plain min-propagation would need ~149 and silently split)
    import warnings

    from pyspark_data_quality_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(149)], "id_a bigint, id_b bigint"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup_components(chain, max_iter=10).collect()
        assert not any("did not converge" in str(x.message) for x in w)
    assert len(out) == 150
    assert {r["component"] for r in out} == {0}


def test_repetition_signals(spark):
    from pyspark_data_quality_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "unique line one\nunique line two\nunique line one"),
            (2, "spam spam spam spam ham"),
            (3, ""),
            (4, None),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert rows[1]["n_lines"] == 3
    assert rows[1]["dup_line_frac"] == round(1 / 3, 6)
    assert rows[2]["top_token_frac"] == 0.8  # 4 of 5 tokens are 'spam'
    assert rows[2]["n_tokens"] == 5
    assert rows[3]["n_lines"] == 0 and rows[3]["dup_line_frac"] == 0.0
    assert rows[3]["n_tokens"] == 0 and rows[3]["top_token_frac"] == 0.0


def test_dedup_against_reference(spark):
    from pyspark_data_quality_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        [(1, "Hello  World"), (2, "foo bar")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "hello world"),   # dup of ref 1 modulo normalization
            (11, "foo bar"),       # dup of ref 2
            (12, "brand new doc"),
            (13, None),            # null text: fingerprint null, survives
        ],
        ["doc_id", "text"],
    )
    surv = sorted(r["doc_id"] for r in dedup_against(batch, ref, "text").collect())
    assert surv == [12, 13]
    dups = sorted(
        r["doc_id"]
        for r in dedup_against(batch, ref, "text", mode="dups").collect()
    )
    assert dups == [10, 11]

    import pytest

    with pytest.raises(ValueError, match="unknown mode"):
        dedup_against(batch, ref, "text", mode="nope")


def test_fuzzy_match_pairs_exact_vs_bruteforce(spark):
    """The blocked plan must return EXACTLY the brute-force pair set —
    including empty strings, single chars, and whitespace (the count-
    filter + shorts-crossJoin completeness argument, operators/fuzzy.py)."""
    import random

    from pyspark_data_quality_spark.operators.fuzzy import fuzzy_match_pairs

    rnd = random.Random(11)
    alphabet = "abcdefg "
    rows = [
        (i, "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 10))))
        for i in range(120)
    ]
    rows += [(1000, None), (1001, ""), (1002, "a"), (1003, "b"), (1004, "ab")]
    df = spark.createDataFrame(rows, ["id", "s"])

    nn = df.filter(F.col("s").isNotNull())
    for k in (0, 1, 2):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in fuzzy_match_pairs(df, "s", "id", max_distance=k).collect()
        }
        bf = (
            nn.select(F.col("id").alias("id_a"), F.lower("s").alias("sa"))
            .join(
                nn.select(F.col("id").alias("id_b"), F.lower("s").alias("sb")),
                F.col("id_a") < F.col("id_b"),
            )
            .select("id_a", "id_b", F.levenshtein("sa", "sb").alias("d"))
            .filter(F.col("d") <= k)
        )
        exp = {(r["id_a"], r["id_b"], r["d"]) for r in bf.collect()}
        assert got == exp, f"k={k}: {len(got)} vs {len(exp)}"

    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_match_pairs(df, "s", "id", max_distance=-1)


def test_semantic_dedup_planted_duplicates(spark, vecs):
    """The vecs fixture plants 100+i as a near-copy of i for i<5; with
    enough clusters to keep groups small, semantic dedup must pair each
    planted copy with its source (same-cluster by construction: cosine
    ~0.9999) and survivors must drop exactly the greater ids."""
    from pyspark_data_quality_spark.operators.dedup import semantic_dedup

    pairs = semantic_dedup(
        vecs, "embedding", "vec_id",
        threshold=0.999, num_clusters=8, sample_size=64, seed=3,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, 100 + i) for i in range(5)}
    # every pair found must be a real high-cosine pair; the planted pairs
    # are only guaranteed when source and copy share a cluster, so assert
    # a recall floor rather than exact equality
    assert len(got & planted) >= 3
    for r in pairs:
        assert r["cosine"] >= 0.999

    surv = semantic_dedup(
        vecs, "embedding", "vec_id",
        threshold=0.999, num_clusters=8, sample_size=64, seed=3,
        mode="survivors",
    )
    surv_ids = {r["vec_id"] for r in surv.collect()}
    for a, b in got:
        assert a in surv_ids and b not in surv_ids

    import pytest

    with pytest.raises(ValueError, match="unknown mode"):
        semantic_dedup(vecs, "embedding", "vec_id", mode="nope")


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from pyspark_data_quality_spark.operators.text import tfidf_top_terms

    corpus = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_top_terms(corpus, "text", "doc_id", k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"]) for r in rows}

    def idf(df_t, n=3):
        return math.log((1 + n) / (1 + df_t)) + 1.0

    # doc 1: apple tf=2 df=1 -> 2*idf(1); banana tf=1 df=2 -> idf(2)
    assert got[(1, 1)][0] == "apple"
    assert got[(1, 1)][2] == pytest.approx(round(2 * idf(1), 6))
    assert got[(1, 2)][0] == "banana"
    # doc 3: cherry tf=3 dominates; durian (df=1) beats nothing else
    assert got[(3, 1)][0] == "cherry"
    assert got[(3, 1)][2] == pytest.approx(round(3 * idf(2), 6))
    assert got[(3, 2)][0] == "durian"
    # every doc contributes at most k rows
    assert len(rows) == 6


def test_split_leakage_counts(spark):
    from pyspark_data_quality_spark.operators.text import split_leakage

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated training document about engines"),
        ],
        ["doc_id", "text"],
    )
    holdout = spark.createDataFrame(
        [
            (10, "The quick  brown fox jumps over the lazy dog today"),  # exact (norm)
            (11, "the quick brown fox jumps over the lazy cat today"),   # near
            (12, "entirely novel holdout content nothing shared here"),
        ],
        ["doc_id", "text"],
    )
    r = split_leakage(train, holdout, "text", "doc_id", n=8, threshold=0.5).first()
    assert r["n_holdout"] == 3
    assert r["n_exact_leaked"] == 1
    assert r["n_near_leaked"] == 2  # exact doc also has containment 1.0
    assert r["exact_leak_rate"] == pytest.approx(round(1 / 3, 6))
    assert r["near_leak_rate"] == pytest.approx(round(2 / 3, 6))


def test_dup_cluster_profile(spark):
    from pyspark_data_quality_spark.operators.dedup import dup_cluster_profile

    df = spark.createDataFrame(
        [(1, "aa"), (2, "AA"), (3, "aa "), (4, "bb"), (5, "cc"), (6, "bb")],
        ["doc_id", "text"],
    )
    rows = {r["cluster_size"]: (r["n_clusters"], r["n_docs"])
            for r in dup_cluster_profile(df, "text").collect()}
    # "aa" x3 (normalization), "bb" x2, "cc" x1
    assert rows == {1: (1, 1), 2: (1, 2), 3: (1, 3)}


def test_semantic_dedup_empty_input(spark):
    from pyspark_data_quality_spark.operators.dedup import semantic_dedup

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert semantic_dedup(empty, "embedding", "vec_id").count() == 0
    assert semantic_dedup(
        empty, "embedding", "vec_id", mode="survivors"
    ).count() == 0


def test_unigram_logprob_hand_computed(spark):
    import math

    from pyspark_data_quality_spark.operators.text import unigram_logprob

    corpus = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, None)], ["doc_id", "text"]
    )
    # corpus LM: counts a=3, b=1, c=1; N=5, V=3
    rows = {r["doc_id"]: r for r in unigram_logprob(corpus, "text", "doc_id").collect()}

    def nll(c):
        return -math.log((c + 1) / (5 + 3))

    assert rows[1]["n_tokens"] == 3
    assert rows[1]["nll"] == pytest.approx(
        round((2 * nll(3) + nll(1)) / 3, 6)
    )
    assert rows[2]["nll"] == pytest.approx(round((nll(3) + nll(1)) / 2, 6))
    assert rows[3]["n_tokens"] == 0 and rows[3]["nll"] is None

    # held-out reference: unseen token priced at the +1 floor
    ref = spark.createDataFrame([(9, "x x x")], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["nll"]
        for r in unigram_logprob(corpus, "text", "doc_id", reference=ref).collect()
    }
    floor = -math.log(1 / (3 + 1))  # rc=0, N_ref=3, V=1
    assert got[2] == pytest.approx(round(floor, 6))


def test_bigram_logprob_matches_python_model(spark):
    """Laplace-smoothed bigram conditional against an independent Python
    model, including: word-ORDER sensitivity (same unigrams, shuffled
    order scores worse), unseen-predecessor 1/V degradation, held-out
    reference, and the <2-token NULL contract."""
    import collections
    import math

    from pyspark_data_quality_spark.operators.text import bigram_logprob

    texts = {
        1: "the cat sat on the mat",
        2: "mat the on sat cat the",  # same unigrams, scrambled order
        3: "the cat sat",
        4: "solo",
        5: None,
    }

    def model(score_texts, ref_texts):
        bc, pc = collections.Counter(), collections.Counter()
        vocab = set()
        for t in ref_texts.values():
            if t is None:
                continue
            ts = t.lower().split()
            vocab.update(ts)
            for a, b in zip(ts, ts[1:]):
                bc[(a, b)] += 1
                pc[a] += 1
        v = len(vocab)
        out = {}
        for i, t in score_texts.items():
            ts = (t or "").lower().split()
            bgs = list(zip(ts, ts[1:]))
            if not bgs:
                out[i] = (0, None)
                continue
            nll = sum(
                -math.log((bc[(a, b)] + 1) / (pc[a] + v)) for a, b in bgs
            ) / len(bgs)
            out[i] = (len(bgs), round(nll, 6))
        return out

    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_logprob(df, "text", "doc_id").collect()
    }
    want = model(texts, texts)
    for i in texts:
        assert got[i][0] == want[i][0], i
        if want[i][1] is None:
            assert got[i][1] is None, i
        else:
            assert got[i][1] == pytest.approx(want[i][1]), i
    # the scrambled doc is the outlier the unigram signal cannot see
    assert got[2][1] > got[1][1]

    # held-out reference: every scored bigram is unseen; predecessors
    # seen in the reference still shape the denominator
    ref_texts = {9: "the dog ran"}
    ref = spark.createDataFrame(
        list(ref_texts.items()), "doc_id bigint, text string"
    )
    got_ref = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_logprob(df, "text", "doc_id", reference=ref).collect()
    }
    want_ref = model(texts, ref_texts)
    for i in texts:
        assert got_ref[i] == (
            want_ref[i]
            if want_ref[i][1] is None
            else (want_ref[i][0], pytest.approx(want_ref[i][1]))
        ), i


def test_set_similarity_join_exact_vs_bruteforce(spark):
    """PPJoin prefix filtering must return EXACTLY the brute-force
    Jaccard pair set at every threshold (completeness: size filter +
    rarest-token prefix intersection lemma)."""
    import random

    from pyspark_data_quality_spark.operators.dedup import (
        jaccard,
        set_similarity_join,
    )

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, rnd.sample(vocab, rnd.randint(0, 12))) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id int, s array<string>")
    nz = df.filter(F.size("s") > 0)
    for t in (0.5, 0.8, 1.0):
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in set_similarity_join(df, "s", "id", threshold=t).collect()
        }
        bf = (
            nz.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
            .join(
                nz.select(F.col("id").alias("id_b"), F.col("s").alias("sb")),
                F.col("id_a") < F.col("id_b"),
            )
            .select(
                "id_a", "id_b",
                F.round(jaccard(F.col("sa"), F.col("sb")), 6).alias("j"),
            )
            .filter(F.col("j") >= t)
        )
        exp = {(r["id_a"], r["id_b"], r["j"]) for r in bf.collect()}
        assert got == exp, f"t={t}"

    with pytest.raises(ValueError, match="threshold"):
        set_similarity_join(df, "s", "id", threshold=0.0)


def test_segment_dedup_profile_hand_computed(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        segment_dedup_profile,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail"),      # seg1 = "a b c d", seg2 dup w/ 3
            (2, "a b c d x y z w more words here now"),
            (3, "a b c d e f g h unrelated body of text"),
            (4, "too short"),                  # no full 4-token segment
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dup_segments"])
        for r in segment_dedup_profile(
            df, "text", "doc_id", k=4, min_df=2
        ).collect()
    }
    # "a b c d" appears in docs 1,2,3; "e f g h" in docs 1,3
    assert got == {1: (2, 2), 2: (3, 1), 3: (3, 2)}
    assert 4 not in got  # no full segment -> no row


def test_strip_duplicate_segments_rebuild(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        strip_duplicate_segments,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail"),
            (2, "a b c d x y z w"),
            (3, "a b c d e f g h"),
            (4, ""),
            (5, None),
            (6, "short"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in strip_duplicate_segments(
            df, "text", "doc_id", k=4, min_df=2
        ).collect()
    }
    # dup segments removed, unique segments + tail preserved in order
    assert got[1] == "tail"
    assert got[2] == "x y z w"
    assert got[3] == ""
    assert got[4] == ""
    assert got[6] == "short"  # sub-k text untouched


def test_segment_dedup_order_preserved(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        strip_duplicate_segments,
    )

    # two unique segments + a shared middle segment: order must survive
    df = spark.createDataFrame(
        [
            (1, "p q r s DUP DUP DUP DUP w x y z"),
            (2, "DUP DUP DUP DUP other words go here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in strip_duplicate_segments(
            df, "text", "doc_id", k=4, min_df=2
        ).collect()
    }
    assert got[1] == "p q r s w x y z"
    assert got[2] == "other words go here"


def test_corpus_divergence_properties(spark):
    from pyspark_data_quality_spark.operators.drift import corpus_divergence

    df = spark.createDataFrame(
        [
            ("a", "x x x y"),
            ("a", "x y z"),
            ("b", "z z z z q"),
            ("c", None),
        ],
        ["src", "text"],
    )
    rows = corpus_divergence(df, "text", "src").collect()
    got = {r["src"]: r for r in rows}
    assert set(got) == {"a", "b"}  # null-text-only group has no tokens
    for r in rows:
        assert r["kl_vs_corpus"] >= 0  # Gibbs' inequality
    assert got["a"]["n_tokens"] == 7
    assert got["b"]["n_tokens"] == 5
    # uniform corpus == group distribution -> KL 0
    uni = spark.createDataFrame(
        [("a", "t u"), ("b", "t u")], ["src", "text"]
    )
    for r in corpus_divergence(uni, "text", "src").collect():
        assert r["kl_vs_corpus"] == 0.0
    # NULL group key is a segment of its own (null-safe totals join)
    withnull = spark.createDataFrame(
        [(None, "x x y"), ("b", "y z")], ["src", "text"]
    )
    ngot = {r["src"]: r for r in corpus_divergence(withnull, "text", "src").collect()}
    assert set(ngot) == {None, "b"}
    assert ngot[None]["n_tokens"] == 3


def test_redact_pii(spark):
    from pyspark_data_quality_spark.operators.repair import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk or +1 555-123-4567"),
            (2, "see https://example.com/a?b=c from 192.168.0.1"),
            (3, "clean text"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["text_redacted"]
        for r in redact_pii(df, "text").collect()
    }
    assert got[1] == "mail [EMAIL] or [PHONE]"
    assert got[2] == "see [URL] from [IPV4]"
    assert got[3] == "clean text"
    assert got[4] is None  # null text passes through as null
    # custom pattern set + out_col
    out = redact_pii(
        df, "text", patterns={"num": r"\d+"}, out_col="t2"
    ).collect()
    assert {r["doc_id"]: r["t2"] for r in out}[2] == (
        "see https://example.com/a?b=c from [NUM].[NUM].[NUM].[NUM]"
    )


def test_unicode_normalize(spark):
    import unicodedata

    from pyspark_data_quality_spark.operators.repair import unicode_normalize

    # inputs DECOMPOSED via explicit escapes; expectations composed
    df = spark.createDataFrame(
        [
            (1, "cafe\u0301 zoo"),          # combining acute -> U+00E9
            (2, "\u212b lab"),               # ANGSTROM singleton -> U+00C5
            (3, "s\u0307\u0323 marks"),      # canonical reorder + compose
            (4, "\u1100\u1161 syllable"),    # Hangul jamo -> U+AC00
            (5, "plain ascii"),              # fast path: untouched
            (6, None),                       # null passes through
            (7, "a\u200bb\tc"),              # ZWSP is Cf; tab is kept
        ],
        ["i", "text"],
    )
    got = {
        r["i"]: r["text"]
        for r in unicode_normalize(df, "text", form="NFC").collect()
    }
    assert got[1] == "caf\u00e9 zoo"
    assert got[2] == "\u00c5 lab"
    assert got[3] == "\u1e69 marks"
    assert got[4] == "\uac00 syllable"
    assert got[5] == "plain ascii"
    assert got[6] is None
    # idempotence: NFC of NFC is a fixed point
    twice = unicode_normalize(
        unicode_normalize(df, "text"), "text"
    ).collect()
    assert {r["i"]: r["text"] for r in twice} == got

    # strip_controls removes Cc/Cf EXCEPT tab/newline/CR
    sc = {
        r["i"]: r["t"]
        for r in unicode_normalize(
            df, "text", strip_controls=True, out_col="t"
        ).collect()
    }
    assert sc[7] == "ab\tc"
    # ... and collapse_whitespace then folds the kept tab
    cw = {
        r["i"]: r["t"]
        for r in unicode_normalize(
            df, "text", strip_controls=True,
            collapse_whitespace=True, out_col="t",
        ).collect()
    }
    assert cw[7] == "ab c"

    # NFKC additionally folds compatibility forms (ligature fi)
    lig = spark.createDataFrame([(1, "\ufb01le")], ["i", "text"])
    assert (
        unicode_normalize(lig, "text", form="NFKC").collect()[0]["text"]
        == "file"
    )
    # NFC leaves the ligature alone (canonical-only)
    assert (
        unicode_normalize(lig, "text", form="NFC").collect()[0]["text"]
        == "\ufb01le"
    )
    # parity with the stdlib on every non-ASCII case (the driver oracle
    # replays the same math through DuckDB nfc_normalize)
    for i, t in [(1, "cafe\u0301 zoo"), (3, "s\u0307\u0323 marks")]:
        assert got[i] == unicodedata.normalize("NFC", t)

    # casefold=True builds the caseless match key: full folding goes
    # beyond lower() (capital sharp s -> 'ss'), ASCII takes the cheap
    # .lower() path, and the result re-normalizes after folding
    fold_df = spark.createDataFrame(
        [(1, "STRA\u1e9eE"), (2, "Plain ASCII"), (3, "CAFE\u0301")],
        ["i", "text"],
    )
    folded = {
        r["i"]: r["text"]
        for r in unicode_normalize(
            fold_df, "text", form="NFKC", casefold=True
        ).collect()
    }
    assert folded[1] == "strasse"
    assert folded[2] == "plain ascii"
    assert folded[3] == "caf\u00e9"

    # astral-plane (SMP) chars must survive the Arrow round trip and
    # coexist with normalization in the same string
    astral = spark.createDataFrame(
        [(1, "\U0001f600 cafe\u0301 \U0001d11e")], ["i", "text"]
    )
    a = unicode_normalize(astral, "text", form="NFC").collect()[0]["text"]
    assert a == "\U0001f600 caf\u00e9 \U0001d11e"

    with pytest.raises(ValueError, match="unknown form"):
        unicode_normalize(df, "text", form="NFX")
    with pytest.raises(ValueError, match="no such column"):
        unicode_normalize(df, "nope")
    with pytest.raises(ValueError, match="not\\s+string"):
        unicode_normalize(df, "i")


def test_unicode_profile(spark):
    import duckdb

    from pyspark_data_quality_spark.operators.text import unicode_profile

    # fixture rows as (python string, duckdb construction) pairs so the
    # engine comparison runs on IDENTICAL inputs
    cases = [
        ("plain ascii", "'plain ascii'"),
        ("caf\u00e9 composed", "'caf' || chr(233) || ' composed'"),
        ("cafe\u0301 decomposed", "'cafe' || chr(769) || ' decomposed'"),
        ("zw\u200bsp", "'zw' || chr(8203) || 'sp'"),
        ("bell\x07", "'bell' || chr(7)"),
        ("emoji \U0001f600", "'emoji ' || chr(128512)"),
        ("damaged \ufffd here", "'damaged ' || chr(65533) || ' here'"),
        ("tab\tkept\nok", "'tab' || chr(9) || 'kept' || chr(10) || 'ok'"),
        (None, "NULL"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["i", "text"]
    )
    row = unicode_profile(df, "text").collect()[0]
    assert row["n_docs"] == 9
    assert row["n_null"] == 1
    assert row["n_non_ascii"] == 5
    assert row["n_denormalized"] == 1     # only the decomposed cafe
    assert row["n_with_controls"] == 2    # ZWSP + BEL; tab/newline kept
    assert row["n_with_astral"] == 1
    assert row["n_with_replacement"] == 1

    # independent engine replay: DuckDB computes the same counts from
    # identically-constructed strings (RE2 + nfc_normalize)
    sql_rows = " UNION ALL ".join(f"SELECT {d} AS t" for _, d in cases)
    got = duckdb.sql(
        f"""
        WITH docs AS ({sql_rows})
        SELECT count(*) AS n_docs,
               sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS n_null,
               sum(CASE WHEN regexp_matches(t, '[^\\x00-\\x7F]')
                   THEN 1 ELSE 0 END) AS n_non_ascii,
               sum(CASE WHEN nfc_normalize(t) <> t
                   THEN 1 ELSE 0 END) AS n_denormalized,
               sum(CASE WHEN regexp_matches(t,
                   '[\\x{{00}}-\\x{{08}}\\x{{0B}}\\x{{0C}}\\x{{0E}}-\\x{{1F}}\\x{{7F}}]|[\\x{{200B}}-\\x{{200F}}]')
                   THEN 1 ELSE 0 END) AS n_with_controls,
               sum(CASE WHEN regexp_matches(t, '[\\x{{10000}}-\\x{{10FFFF}}]')
                   THEN 1 ELSE 0 END) AS n_with_astral,
               sum(CASE WHEN contains(t, chr(65533))
                   THEN 1 ELSE 0 END) AS n_with_replacement
        FROM docs
        """
    ).fetchone()
    assert tuple(row) == tuple(got)

    with pytest.raises(ValueError, match="unknown form"):
        unicode_profile(df, "text", form="NFX")
    with pytest.raises(ValueError, match="not\\s+string"):
        unicode_profile(df, "i")
    # empty corpus: one row of zeros, no divide/first() failures
    empty = spark.createDataFrame([], "i long, text string")
    z = unicode_profile(empty, "text").collect()[0]
    assert z["n_docs"] == 0 and z["n_denormalized"] == 0


def test_zipf_profile_properties(spark):
    from pyspark_data_quality_spark.operators.text import zipf_profile

    # perfect Zipf: freq(r) = C / r  ->  slope == -1, r2 == 1
    rows = []
    for rank, (tok, n) in enumerate(
        [("a", 24), ("b", 12), ("c", 8), ("d", 6)], start=1
    ):
        rows.extend([(i, tok) for i in range(n)])
    df = spark.createDataFrame(rows, ["i", "text"])
    r = zipf_profile(df, "text").collect()[0]
    assert r["vocab_size"] == 4
    assert r["n_tokens"] == 50
    assert abs(r["zipf_slope"] - (-1.0)) < 1e-6
    assert abs(r["zipf_r2"] - 1.0) < 1e-6

    # uniform frequencies -> slope 0
    uni = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], ["i", "text"]
    )
    u = zipf_profile(uni, "text").collect()[0]
    assert u["zipf_slope"] == 0.0


def test_pack_sequences(spark):
    from pyspark_data_quality_spark.operators.split import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h"), (3, ""), (4, None),
         (5, "i j k l m n o p q r s t")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"],
            r["first_chunk"], r["last_chunk"],
        )
        for r in pack_sequences(
            df, "doc_id", text_col="text", max_tokens=8
        ).collect()
    }
    assert got[1] == (5, 0, 0, 0)
    assert got[2] == (3, 5, 0, 0)          # fills chunk 0 exactly
    assert got[3] == (0, 8, None, None)    # zero tokens -> no chunk
    assert got[4] == (0, 8, None, None)    # null text == zero tokens
    assert got[5] == (12, 8, 1, 2)         # straddles chunks 1-2
    # both methods agree
    single = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"],
            r["first_chunk"], r["last_chunk"],
        )
        for r in pack_sequences(
            df, "doc_id", text_col="text", max_tokens=8,
            method="single_task",
        ).collect()
    }
    assert single == got
    # precomputed token counts give the same plan
    pre = df.selectExpr(
        "doc_id", "size(filter(split(coalesce(text,''),' '), x -> x != '')) AS tc"
    )
    via_counts = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"],
            r["first_chunk"], r["last_chunk"],
        )
        for r in pack_sequences(
            pre, "doc_id", token_count_col="tc", max_tokens=8
        ).collect()
    }
    assert via_counts == got


def test_chunk_documents_reconstruction(spark):
    from pyspark_data_quality_spark.operators.split import chunk_documents

    texts = {
        1: "a b c d e f g h i j",
        2: "x",
        3: "p q r",
        4: "",
    }
    df = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    rows = chunk_documents(
        df, "text", "doc_id", max_tokens=4, overlap=1
    ).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 4 not in by_doc  # empty doc emits nothing
    for doc_id, chunks in by_doc.items():
        toks = texts[doc_id].split()
        # stitching chunks (dropping each successor's overlap) rebuilds
        # the document exactly
        stitched = chunks[0]["chunk_text"].split()
        for c in chunks[1:]:
            stitched.extend(c["chunk_text"].split()[1:])  # overlap=1
        assert stitched == toks, doc_id
        assert all(c["chunk_tokens"] <= 4 for c in chunks)
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
    # no trailing chunk fully contained in its predecessor
    assert len(by_doc[3]) == 1


def test_pack_sequences_bad_args(spark):
    import pytest

    from pyspark_data_quality_spark.operators.split import (
        chunk_documents,
        pack_sequences,
    )

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id")  # neither source given
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", text_col="text", token_count_col="x")
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", max_tokens=4, overlap=4)


def test_encoding_artifact_count(spark):
    from pyspark_data_quality_spark.functions.text import (
        encoding_artifact_count,
    )

    rows = [
        (1, "clean ascii text"),
        (2, "lossy \ufffd decode \ufffd"),
        (3, "moji \u00c3\u00a9 and \u00c2\u00a0 bake"),  # e-acute / nbsp mojibake
        (4, "c1 control \u0085 here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", encoding_artifact_count("text").alias("n")
        ).collect()
    }
    assert got[1] == 0
    assert got[2] == 2
    assert got[3] == 2
    assert got[4] == 1
    assert got[5] is None


def test_near_dup_eval(spark):
    from pyspark_data_quality_spark.operators.dedup import near_dup_eval

    exact = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], ["id_a", "id_b"]
    )
    # one hit (reversed orientation), one miss, one false positive + dup
    approx = spark.createDataFrame(
        [(2, 1), (2, 1), (5, 9)], ["id_a", "id_b"]
    )
    r = near_dup_eval(approx, exact).first()
    assert (r["n_approx"], r["n_exact"], r["n_hit"]) == (2, 3, 1)
    assert r["precision"] == 0.5
    assert abs(r["recall"] - 1 / 3) < 1e-6
    # empty approx side: no division errors
    empty = spark.createDataFrame([], "id_a long, id_b long")
    r2 = near_dup_eval(empty, exact).first()
    assert r2["n_approx"] == 0 and r2["precision"] is None


def test_near_dup_eval_on_minhash(spark, sf_dir):
    """End-to-end: MinHash pairs vs the exact n-gram ground truth on the
    fixture subset — the documented LSH-tuning workflow."""
    from pyspark_data_quality_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dup_eval,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 100"
    )
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.5,
        use_lsh_blocking=False,
    )
    approx = minhash_near_dup_pairs(
        docs, "text", "doc_id", shingle="char", shingle_n=3,
        threshold=0.5, num_hashes=64, num_bands=32,
    )
    r = near_dup_eval(approx, exact).first()
    assert r["n_exact"] > 0
    assert r["recall"] >= 0.8  # 32 bands at t=0.5: high-recall config


def test_ngram_diversity_hand_computed(spark):
    from pyspark_data_quality_spark.operators.text import ngram_diversity

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a a")], "id bigint, text string"
    )
    rows = {
        (r["n"]): r
        for r in ngram_diversity(df, "text", None, ns=(1, 2)).collect()
    }
    # unigrams: 7 occurrences (a b a b / a a a), 2 distinct
    assert rows[1]["total_ngrams"] == 7
    assert rows[1]["distinct_ngrams"] == 2
    assert rows[1]["diversity"] == pytest.approx(round(2 / 7, 6))
    # bigrams: "a b","b a","a b" + "a a","a a" -> 5 total, 3 distinct
    assert rows[2]["total_ngrams"] == 5
    assert rows[2]["distinct_ngrams"] == 3
    assert rows[2]["diversity"] == pytest.approx(0.6)

    # grouped face + validation
    g = ngram_diversity(
        df.withColumn("g", F.lit("x")), "text", "g", ns=(1,)
    ).collect()
    assert len(g) == 1 and g[0]["g"] == "x" and g[0]["total_ngrams"] == 7
    with pytest.raises(ValueError):
        ngram_diversity(df, "text", ns=())
    with pytest.raises(ValueError):
        ngram_diversity(df, "text", ns=(0,))


def test_vocab_richness_chao1(spark):
    from pyspark_data_quality_spark.operators.text import vocab_richness

    # frequency spectrum: a x3, b x2, c x1, d x1 -> D=4, f1=2, f2=1, N=7
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c d")], "id bigint, text string"
    )
    r = vocab_richness(df, "text").first()
    assert r["n_tokens"] == 7
    assert r["vocab_size"] == 4
    assert r["singletons"] == 2
    assert r["doubletons"] == 1
    # chao1 = D + f1(f1-1)/(2(f2+1)) = 4 + 2*1/4 = 4.5
    assert r["chao1"] == pytest.approx(4.5)
    # coverage = 1 - f1/N = 1 - 2/7
    assert r["coverage"] == pytest.approx(round(1 - 2 / 7, 6))

    # all-singleton corpus: chao1 = D + D(D-1)/2 (f2=0 guarded by +1)
    s = spark.createDataFrame([(1, "p q r")], "id bigint, text string")
    rs = vocab_richness(s, "text").first()
    assert rs["chao1"] == pytest.approx(3 + 3 * 2 / 2)
    assert rs["coverage"] == pytest.approx(0.0)


def test_lexicon_score(spark):
    from pyspark_data_quality_spark.operators.text import lexicon_score

    df = spark.createDataFrame(
        [(1, "good good bad"), (2, "meh"), (3, ""), (4, None)],
        "id bigint, text string",
    )
    lex = {"good": 1.0, "bad": -0.5}
    rows = {
        r["id"]: r["lexicon_score"]
        for r in lexicon_score(df, lex, "text").collect()
    }
    # (1 + 1 - 0.5) / 3 tokens
    assert rows[1] == pytest.approx(1.5 / 3)
    assert rows[2] == 0.0     # no hits, 1 token
    assert rows[3] is None    # empty text: 0 tokens -> NULL (try_divide)
    assert rows[4] is None    # null text propagates

    raw = {
        r["id"]: r["lexicon_score"]
        for r in lexicon_score(
            df, lex, "text", bias=2.0, normalize=False
        ).collect()
    }
    assert raw[1] == pytest.approx(3.5)
    assert raw[3] == 2.0      # bias only on empty fold

    with pytest.raises(ValueError):
        lexicon_score(df, {}, "text")


def test_distinctive_terms(spark):
    from pyspark_data_quality_spark.operators.text import distinctive_terms

    rows = (
        [(i, "en", "common tok alpha alpha") for i in range(5)]
        + [(10 + i, "de", "common tok beta beta") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "id bigint, lang string, text string")
    out = distinctive_terms(df, "text", "lang", k=2, min_count=2)
    top = {(r["lang"], r["rank"]): r for r in out.collect()}
    # each group's most distinctive token is its exclusive word
    assert top[("en", 1)]["token"] == "alpha"
    assert top[("de", 1)]["token"] == "beta"
    # exclusive tokens are absent from the rest: n_rest 0, ratio NULL
    assert top[("en", 1)]["n_rest"] == 0
    assert top[("en", 1)]["ratio"] is None
    assert top[("en", 1)]["g2"] > 0
    # perfectly shared vocabulary never ranks (ratio == 1 filtered out)
    toks = {r["token"] for r in out.collect()}
    assert "common" not in toks and "tok" not in toks

    with pytest.raises(ValueError):
        distinctive_terms(df, "text", "lang", k=0)


def test_pq_topk_recall_and_compression(spark, vecs):
    """PQ ADC search over codes only: planted near-copies are recalled,
    numeric recall floor vs brute force holds, and the scored frame
    reads codes, never float vectors."""
    from pyspark_data_quality_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(
        vecs, num_subvectors=4, codebook_size=16, sample_size=4096
    )
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 2
    codes = pq_encode(vecs, codebooks=books)
    crow = codes.first()
    assert len(crow["pq_code"]) == 4
    assert all(0 <= c < 16 for c in crow["pq_code"])

    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = brute_force_topk(vecs, queries, k=3)
    # codes-only frame: drop the vectors entirely before searching
    approx = pq_topk(
        codes.select("vec_id", "pq_code"), queries, codebooks=books, k=3
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    for q in range(3):
        assert (q, q) in a            # self is always nearest
        assert (q, 100 + q) in a      # planted near-copy recalled
    assert len(a & e) / len(e) >= 0.5
    ranks = approx.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in ranks)


def test_pq_validation_and_nulls(spark, vecs):
    import pytest

    from pyspark_data_quality_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(vecs, num_subvectors=3)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        train_pq_codebooks(empty, num_subvectors=4)

    books = train_pq_codebooks(vecs, num_subvectors=4, codebook_size=8)
    with_null = vecs.unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id long, embedding array<double>"
        )
    )
    codes = pq_encode(with_null, codebooks=books)
    assert codes.filter("vec_id = 999").first()["pq_code"] is None
    queries = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # NULL codes are skipped, search still returns k per query
    out = pq_topk(codes, queries, codebooks=books, k=3)
    assert out.count() == 6
    with pytest.raises(ValueError, match="query"):
        pq_topk(
            codes,
            queries.filter("query_id < 0"),
            codebooks=books,
            k=3,
        )
    # the query side is a bounded collect: above max_queries fails LOUD
    # instead of silently building a driver-sized LUT broadcast
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(codes, queries, codebooks=books, k=3, max_queries=1)


def test_ivf_pq_topk_query_bound(spark, vecs):
    from pyspark_data_quality_spark.operators.similarity import (
        assign_ivf_lists,
        ivf_pq_topk,
        pq_encode,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    cents = train_ivf_centroids(vecs, num_centroids=4, sample_size=4096)
    books = train_pq_codebooks(vecs, num_subvectors=4, codebook_size=8)
    index = pq_encode(
        assign_ivf_lists(vecs, centroids=cents), codebooks=books
    ).select("vec_id", "ivf_list", "pq_code")
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="max_queries"):
        ivf_pq_topk(
            index, queries, centroids=cents, codebooks=books,
            k=3, nprobe=2, max_queries=2,
        )


def test_ivf_pq_topk_composition(spark, vecs):
    """IVF-PQ: list pruning over a codes-only corpus, then ADC. The
    planted near-copies survive the pruning (their vectors share the
    query's nearest lists) and full-probe equals plain PQ search."""
    from pyspark_data_quality_spark.operators.similarity import (
        assign_ivf_lists,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    cents = train_ivf_centroids(vecs, num_centroids=8, sample_size=4096)
    books = train_pq_codebooks(vecs, num_subvectors=4, codebook_size=16)
    index = pq_encode(
        assign_ivf_lists(vecs, centroids=cents), codebooks=books
    ).select("vec_id", "ivf_list", "pq_code")

    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ivf_pq_topk(
        index, queries, centroids=cents, codebooks=books, k=3, nprobe=4
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    for q in range(3):
        assert (q, q) in a
        assert (q, 100 + q) in a

    # probing every list == plain PQ over the whole corpus
    full = ivf_pq_topk(
        index, queries, centroids=cents, codebooks=books, k=3, nprobe=8
    )
    plain = pq_topk(
        index.select("vec_id", "pq_code"), queries, codebooks=books, k=3
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_readability_profile_hand_checked(spark):
    """Flesch / FK against hand counts; zero-sentence and empty docs
    report NULL scores."""
    from pyspark_data_quality_spark.operators.text import (
        readability_profile,
    )

    rows = [
        # "the cat sat. it ran away!" -> 2 sentences, 6 words,
        # syllables: the(1) cat(1) sat(1) it(1) ran(1) away(2) = 7
        (1, "The cat sat. It ran away!"),
        (2, "word word word"),      # 1 "sentence" (no delim -> 1 seg), 3 words
        (3, ""),                     # empty: 0/0/0, NULL scores
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability_profile(df).collect()}
    r1 = out[1]
    assert (r1["n_sentences"], r1["n_words"], r1["n_syllables"]) == (2, 6, 7)
    wps, spw = 6 / 2, 7 / 6
    assert r1["flesch_reading_ease"] == round(
        206.835 - 1.015 * wps - 84.6 * spw, 6
    )
    assert r1["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)
    r2 = out[2]
    assert (r2["n_sentences"], r2["n_words"]) == (1, 3)
    r3, r4 = out[3], out[4]
    for r in (r3, r4):
        assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (0, 0, 0)
        assert r["flesch_reading_ease"] is None and r["fk_grade"] is None


def test_lsh_plan_advisor(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        lsh_plan,
        minhash_near_dup_pairs,
    )

    # the docstring's published config class: at threshold 0.7 within a
    # 128-hash budget the steepest feasible curve is 4 rows per band
    cfg = lsh_plan(0.7, target_recall=0.999, max_hashes=128)
    assert cfg["rows_per_band"] == 4
    assert cfg["num_hashes"] == cfg["num_bands"] * cfg["rows_per_band"]
    assert cfg["recall_at_threshold"] >= 0.999
    # closed-form cross-check: 1-(1-t^r)^b
    t, r, b = 0.7, cfg["rows_per_band"], cfg["num_bands"]
    assert abs(cfg["recall_at_threshold"] - (1 - (1 - t**r) ** b)) < 1e-6
    # S-curve midpoint sits below the operating threshold
    assert cfg["s_star"] < 0.7

    # more hash budget buys a steeper curve (fewer false candidates),
    # never a worse one
    wide = lsh_plan(0.7, target_recall=0.999, max_hashes=512)
    assert (
        wide["candidate_rate_at_reject"] <= cfg["candidate_rate_at_reject"]
    )
    # recall target is always honored
    for tr in (0.9, 0.99, 0.999):
        assert lsh_plan(0.8, target_recall=tr)["recall_at_threshold"] >= tr

    with pytest.raises(ValueError, match="threshold"):
        lsh_plan(1.5)
    with pytest.raises(ValueError, match="no .bands, rows."):
        lsh_plan(0.05, target_recall=0.9999, max_hashes=8)

    # the returned config drives the operator directly
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "the quick brown fox jumps over the lazy dog tonight!"),
            (2, "completely different text about spark and parquet io"),
        ],
        ["doc_id", "text"],
    )
    small = lsh_plan(0.7, target_recall=0.99, max_hashes=64)
    pairs = minhash_near_dup_pairs(
        df, "text", "doc_id",
        num_hashes=small["num_hashes"], num_bands=small["num_bands"],
        threshold=0.7,
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_simhash_banding_guards(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame([(0, "some text")], ["doc_id", "text"])
    # pigeonhole violation: bands <= max_hamming would silently lose
    # recall, so it must refuse loudly
    with pytest.raises(ValueError, match="guarantee recall"):
        simhash_near_dup_pairs(df, "text", "doc_id",
                               max_hamming=3, num_bands=3)
    with pytest.raises(ValueError, match="must divide"):
        simhash_near_dup_pairs(df, "text", "doc_id",
                               max_hamming=2, num_bands=3)
    # the default config stays valid
    assert simhash_near_dup_pairs(df, "text", "doc_id").count() == 0


def test_minhash_banding_divisibility_guard(spark):
    from pyspark_data_quality_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    df = spark.createDataFrame([(0, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        minhash_near_dup_pairs(
            df, "text", "doc_id", num_hashes=100, num_bands=32
        )


def test_minhash_injected_signature_width_guard(spark):
    """signatures= refuses a frame whose signature width is not the
    call's num_hashes (checked from the schema, before any job), and
    bands a matching one exactly like the built-in path."""
    from pyspark_data_quality_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(0, base), (1, base + "!"), (2, "something else entirely here")],
        ["doc_id", "text"],
    )
    kw = dict(num_bands=8, threshold=0.5)
    sig32 = minhash_signatures(df, "text", "doc_id", num_hashes=32)
    with pytest.raises(ValueError, match="32-hash signatures, the call bands 64"):
        minhash_near_dup_pairs(df, "text", "doc_id", num_hashes=64,
                               signatures=sig32, **kw)
    # a hand-built frame carries no width: refused, not banded blindly
    unstamped = sig32.withColumn("_sig", F.slice("_sig", 1, 16))
    with pytest.raises(ValueError, match="unknown-width"):
        minhash_near_dup_pairs(df, "text", "doc_id", num_hashes=16,
                               signatures=unstamped, **kw)

    def pairs(**extra):
        return {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(
                df, "text", "doc_id", num_hashes=32, **kw, **extra
            ).collect()
        }

    assert pairs(signatures=sig32) == pairs() == {(0, 1)}
