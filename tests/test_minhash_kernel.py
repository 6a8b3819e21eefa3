"""The one-pass MinHash kernel (``functions/vectors.minhash_signature_np``)
against a pure-Python replay, and the shingle settings every shingling
caller checks before a job runs.

The replay restates the hashing with ``hashlib`` and the multiply-shift
rehash with Python integers (mod 2^64), so it shares no code with the
kernel beyond the definition of the constants; rows compare order-
insensitively by id, and each ``_h`` as a set.
"""

import hashlib
import re

import pytest

from pyspark_data_quality_spark.operators.dedup import (
    minhash_near_dup_pairs,
    minhash_signatures,
)

SEED = 11
NUM_HASHES = 8
N = 3

ROWS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, None),                                     # NULL text
    (3, ""),                                       # empty text
    (4, "   \t "),                                 # whitespace only
    (5, "two words"),                              # fewer than 3 tokens
    (6, "ab"),                                     # fewer than 3 chars
    (7, "a b c a b c a b c a b c"),                # repeated shingles
    (8, "Ünïcödé naïve café résumé 日本語 テキスト ok"),  # non-ASCII
    (9, "the  QUICK brown\nfox jumps over the lazy dog"),  # same after norm
]

_WS = re.compile(r"\s+", re.ASCII)


def _replay_hashes(text, shingle, family):
    if text is None:
        return None
    norm = _WS.sub(" ", text.lower()).strip()
    if shingle == "word":
        toks = [t for t in norm.split(" ") if t]
        items = {" ".join(toks[j:j + N]) for j in range(len(toks) - N + 1)}
    else:
        items = {norm[j:j + N] for j in range(len(norm) - N + 1)}
    if not items:
        return None
    if family == "md5":
        return {
            int(hashlib.md5(f"{SEED}:{s}".encode()).hexdigest()[:15], 16)
            for s in items
        }
    salt = SEED.to_bytes(8, "little", signed=True)
    return {
        int.from_bytes(
            hashlib.blake2b(salt + s.encode(), digest_size=8).digest(),
            "little",
            signed=True,
        )
        for s in items
    }


def _replay_signature(hs, family):
    if family == "md5":
        return [
            min(
                int(hashlib.md5(f"{SEED}:{i}:{h}".encode()).hexdigest()[:15], 16)
                for h in hs
            )
            for i in range(NUM_HASHES)
        ]
    import numpy as np

    # the coefficient draw is the kernel's definition; the arithmetic is not
    rng = np.random.RandomState(SEED)
    a = [(int(x) << 1) | 1 for x in rng.randint(0, 2**63, size=NUM_HASHES)]
    b = [int(x) for x in rng.randint(0, 2**63, size=NUM_HASHES)]
    mask = 2**64
    sig = []
    for ai, bi in zip(a, b):
        v = min((ai * (h % mask) + bi) % mask for h in hs)
        sig.append(v - mask if v >= 2**63 else v)
    return sig


@pytest.mark.parametrize("shingle", ["word", "char"])
@pytest.mark.parametrize("family", ["blake2b", "md5"])
def test_minhash_signatures_match_python_replay(spark, family, shingle):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    sigs = minhash_signatures(
        df, "text", "doc_id", num_hashes=NUM_HASHES, shingle_n=N,
        shingle=shingle, seed=SEED, hash_family=family,
    )
    assert sigs.schema["_sig"].metadata == {"num_hashes": NUM_HASHES}
    got = {
        r["_id"]: (sorted(r["_h"]), r["_sig"]) for r in sigs.collect()
    }
    expected = {}
    for doc_id, text in ROWS:
        hs = _replay_hashes(text, shingle, family)
        if hs is not None:
            expected[doc_id] = (sorted(hs), _replay_signature(hs, family))
    assert got == expected
    # the fixture exercises what it claims: NULL, empty and short texts
    # drop; repeated shingles collapse; normalization folds 1 and 9
    assert 2 not in got and 3 not in got and 4 not in got
    assert (5 in got) == (shingle == "char") and 6 not in got
    assert len(got[7][0]) == (3 if shingle == "word" else 6)
    assert got[1] == got[9]


@pytest.mark.parametrize(
    "settings",
    [
        {"shingle": "words"},          # not a char fallback
        {"shingle": "WORD"},
        {"shingle_n": 0},              # every text one shingle: Jaccard 1.0
        {"shingle": "char", "shingle_n": -2},
    ],
)
def test_invalid_shingle_settings_rejected_at_compose(spark, settings):
    from pyspark_data_quality_spark.pipelines import curate_corpus
    from pyspark_data_quality_spark.plans.telemetry import jobs_during

    df = spark.createDataFrame(ROWS, "doc_id long, text string")

    def compose_all():
        for call in (
            lambda: minhash_signatures(df, "text", "doc_id", **settings),
            lambda: minhash_near_dup_pairs(df, "text", "doc_id", **settings),
            lambda: curate_corpus(df, **settings),
        ):
            with pytest.raises(ValueError, match="shingle"):
                call()

    _, jobs = jobs_during(spark, compose_all)
    assert not jobs


def test_invalid_shingle_settings_rejected_by_shared_kernels(spark):
    from pyspark_data_quality_spark.functions.vectors import (
        minhash_signature_np,
        shingle_hashes_np,
    )
    from pyspark_data_quality_spark.operators.text import contamination_pairs

    for shingle, n in (("words", 3), ("word", 0), ("char", 0)):
        with pytest.raises(ValueError, match="shingle"):
            shingle_hashes_np(shingle, n)
        with pytest.raises(ValueError, match="shingle"):
            minhash_signature_np(shingle, n, 42, "blake2b", 64)
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    with pytest.raises(ValueError, match="shingle"):
        contamination_pairs(df, df, "text", "doc_id", n=0)


def test_dropped_archive_importers_still_import(tmp_path, monkeypatch):
    """The kernels drop a worker's cached zip importers at the top of each
    task (``functions/vectors._drop_archive_importers``): none is left
    afterwards, and a module not yet imported from the same archive still
    imports after ``importlib.invalidate_caches()``, as PySpark calls it
    before the next task."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from pyspark_data_quality_spark.functions.vectors import (
        _drop_archive_importers,
    )

    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_dq_zip_probe_a.py", "X = 1\n")
        z.writestr("_dq_zip_probe_b.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("_dq_zip_probe_a").X == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        _drop_archive_importers()
        assert not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        assert importlib.import_module("_dq_zip_probe_b").Y == 2
    finally:
        for name in ("_dq_zip_probe_a", "_dq_zip_probe_b"):
            sys.modules.pop(name, None)
