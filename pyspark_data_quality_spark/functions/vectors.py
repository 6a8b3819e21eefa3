"""Vector column functions over ``array<float|double>`` embeddings, and
the Arrow kernels of the LSH/dedup operators.

Pair-level similarity math (:func:`dot`, :func:`norm`,
:func:`cosine_similarity`, :func:`l2_distance`) is JVM-side
higher-order functions (``zip_with`` / ``aggregate``) — no Arrow hop —
so verify scoring stays in the plan and scales linearly with rows.
The per-row kernels (hyperplane keys, shingle hashes, MinHash and
SimHash signatures) are Arrow-vectorized pandas UDFs: one numpy pass
per batch instead of interpreted per-element lambdas.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _drop_archive_importers() -> None:
    """Forget the zip-archive importers a Python worker has cached; a
    kernel calls this as its task starts (a scalar pandas UDF, once per
    batch: the loop costs microseconds).

    PySpark calls ``importlib.invalidate_caches()`` before every Python
    task, and under CPython 3.11 each cached ``zipimporter`` then
    re-reads its archive's whole directory: the workers' ``sys.path``
    carries ``pyspark.zip``, the py4j zip and the spark-core jar, with
    16 importers over them (one per imported package), 100-300 ms per
    task on a 4-core host. The archives do not change while a worker
    lives, and an import that needs one again rebuilds its importer
    from the directory ``zipimport`` keeps cached, so dropping them
    changes no import and spares every later task of this (reused)
    worker the re-reads."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def vector_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int | None:
    """Resolve the embedding dimensionality WITHOUT a Spark job when the
    caller supplies ``dim`` (the scale path — plan construction must not
    fire actions). Fallback: probe one non-null row (one small Spark job,
    documented); returns None on an empty/all-null column so callers can
    short-circuit to an empty result instead of crashing on ``len(None)``.
    """
    if dim is not None:
        return int(dim)
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def hyperplane_keys_np(tables: list[list[list[float]]]):
    """Arrow-vectorized hyperplane LSH keys: a pandas_udf mapping a vector
    column to ``array<long>`` (one bucket key per table; bit p of a key
    is the sign of the dot with plane p, LSB-first).

    Why a UDF here: higher-order-function expressions (zip_with/aggregate)
    are evaluated per-element INTERPRETED — tables x planes x dim ops/row
    (4608 at 6x12x64) made key computation the measured bottleneck of the
    LSH operators. One batched matrix multiply (rows x dim @ dim x T*P)
    replaces all of it; the Arrow hop transfers only the vector column.

    A NULL vector, or one whose length is not the planes' width, gets a
    NULL key array: it lands in no bucket instead of failing the batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    num_tables = len(tables)
    num_planes = len(tables[0])
    dim = len(tables[0][0])
    planes = np.asarray(tables, dtype=np.float64).reshape(
        num_tables * num_planes, dim
    )
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    def keys(v):
        out = [None] * len(v)
        valid = [i for i, x in enumerate(v) if x is not None and len(x) == dim]
        if valid:
            mat = np.vstack([np.asarray(v.iloc[i], dtype=np.float64) for i in valid])
            bits = (mat @ planes.T) > 0  # (n, tables*planes)
            bits = bits.reshape(len(valid), num_tables, num_planes)
            ks = (bits * weights).sum(axis=2).astype(np.int64)  # (n, tables)
            for row, i in enumerate(valid):
                out[i] = ks[row].tolist()
        return pd.Series(out)

    # Real annotation objects (this module uses `from __future__ import
    # annotations`, which would stringify inline hints and break pyspark's
    # pandas_udf signature inspection).
    keys.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # asNondeterministic on every kernel factory here: the functions ARE
    # deterministic, but the marking stops Catalyst from DUPLICATING the
    # expensive kernel when it pushes a filter through — explode()'s
    # implicit size>0 condition otherwise plans a second ArrowEvalPython
    # below the exchange whose output is projected away (measured 2x the
    # kernel per action on the shingle pipelines, r15-opt).
    return pandas_udf(keys, "array<long>").asNondeterministic()


def hyperplane_keys_seq_np(tables: list[list[list[float]]]):
    """Arrow-vectorized hyperplane LSH keys with DIM-SEQUENTIAL
    accumulation — bit-identical to a SQL engine's left-to-right
    ``list_dot_product``, but vectorized over rows.

    Why it exists (r15): the certification faces need the oracle's exact
    accumulation order (``((0+x0*w0)+x1*w1)+...``) so a DuckDB oracle
    replays the sign bits value-for-value. The planes live in the kernel
    closure — no plan bloat — and ``acc += M[:, j] * w[p, j]``
    accumulates over dims in that IEEE order for every row at once. The
    batched-matmul kernel (:func:`hyperplane_keys_np`) stays the
    production path; its BLAS accumulation order is unspecified, which
    is fine when no oracle replays the bits.

    Output: ``array<long>``, one key per table, MSB-first packing (plane
    0 is the highest bit, ``acc*2 + bit``), and key 0 in every table for
    a NULL vector, a wrong-width vector, or a vector with NULL elements —
    the oracle's ``list_dot_product`` is NULL there and ``CASE WHEN NULL
    > 0`` yields bit 0 on every plane. Here a NULL element becomes NaN,
    NaN poisons the accumulator, and ``NaN > 0`` is likewise false on
    every plane — same key 0.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    num_tables = len(tables)
    num_planes = len(tables[0])
    dim = len(tables[0][0])
    planes = np.asarray(tables, dtype=np.float64).reshape(
        num_tables * num_planes, dim
    )
    # MSB-first: plane 0 is the highest bit, exactly acc*2 + bit
    msb_weights = 1 << np.arange(num_planes - 1, -1, -1, dtype=np.int64)

    def keys(v):
        out = [[0] * num_tables] * len(v)
        valid = [i for i, x in enumerate(v) if x is not None and len(x) == dim]
        if valid:
            # NULL element -> NaN -> poisons acc -> key 0
            mat = np.vstack([np.asarray(v.iloc[i], dtype=np.float64) for i in valid])
            acc = np.zeros((len(valid), num_tables * num_planes))
            for j in range(dim):
                # one elementwise multiply-add per dim: every row/plane
                # accumulates in the same left-to-right IEEE order as
                # the oracle's list_dot_product
                acc += mat[:, j : j + 1] * planes[:, j]
            bits = (acc > 0).reshape(len(valid), num_tables, num_planes)
            ks = (bits * msb_weights).sum(axis=2).astype(np.int64)
            for row, i in enumerate(valid):
                out[i] = ks[row].tolist()
        return pd.Series(out)

    keys.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # deterministic in fact; see hyperplane_keys_np for why it's marked
    return pandas_udf(keys, "array<long>").asNondeterministic()


def _text_shingle_hasher(shingle: str, n: int, seed: int, hash_family: str):
    """The one per-text shingling routine of the Arrow kernels: returns
    ``f(text) -> int64 ndarray | None``, the 64-bit hashes of the text's
    DISTINCT shingles, or None when the text yields no shingle.

    Normalization matches :func:`..functions.text.normalize_text`
    (lower, collapse whitespace, trim); shingles are ``n``-word joins
    (``shingle='word'``) or char n-grams (``shingle='char'``).
    ``hash_family``:

    - ``'blake2b'`` (the scale path): salted blake2b-8 (deterministic
      across workers, unlike Python's ``hash``).
    - ``'md5'``: the engine-portable certification family — h(s) =
      first 15 hex chars of ``md5("{seed}:" + s)`` as a non-negative
      60-bit BIGINT, replayable verbatim in DuckDB as
      ``CAST(concat('0x', substr(md5(concat('{seed}:', s)), 1, 15))
      AS BIGINT)`` (same trade as mmd_drift's ``weights='md5'``:
      slower hashing bought full SQL-oracle certification).

    Settings are checked here, when the kernel is built, so every
    caller rejects them before a job runs: an unknown ``shingle`` name
    must not fall through to char n-grams, and ``n < 1`` would hash
    every non-empty text to the same single shingle (every pair at
    Jaccard 1.0) — either silently changes recall.
    """
    import hashlib
    from functools import partial

    import numpy as np

    from .text import py_normalize_text, py_tokenize

    if hash_family not in ("blake2b", "md5"):
        raise ValueError(
            f"shingle hashing: hash_family must be 'blake2b' or 'md5', "
            f"got {hash_family!r}"
        )
    if shingle not in ("word", "char"):
        raise ValueError(
            f"shingle hashing: shingle must be 'word' or 'char', got {shingle!r}"
        )
    if n < 1:
        raise ValueError(f"shingle hashing: shingle n must be >= 1, got {n!r}")

    # Per text, the salt or "{seed}:" prefix is hashed once and each
    # shingle continues a copy. Digests decode in one numpy call:
    # blake2b's 8 bytes little-endian signed, md5's first 15 hex chars
    # as the top 60 bits of its first 8 bytes big-endian.
    if hash_family == "md5":
        prefix, new, dtype, shift = f"{seed}:".encode(), hashlib.md5, ">u8", 4
    else:
        prefix = seed.to_bytes(8, "little", signed=True)
        new, dtype, shift = partial(hashlib.blake2b, digest_size=8), "<i8", 0

    def hashes(t: str) -> np.ndarray | None:
        if shingle == "word":
            toks = py_tokenize(t)
            if len(toks) < n:
                return None
            items = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        else:
            norm = py_normalize_text(t)
            if len(norm) < n:
                return None
            items = {norm[j : j + n] for j in range(len(norm) - n + 1)}
        base = new(prefix)
        digests = []
        for s in items:
            h = base.copy()
            h.update(s.encode("utf-8"))
            digests.append(h.digest()[:8])
        packed = np.frombuffer(b"".join(digests), dtype=dtype)
        return (packed >> shift).astype(np.int64)

    return hashes


def shingle_hashes_np(
    shingle: str = "word",
    n: int = 3,
    seed: int = 42,
    hash_family: str = "blake2b",
):
    """Arrow-vectorized shingling: a pandas_udf mapping a text column to
    the DISTINCT 64-bit shingle hashes (``array<long>``; NULL when the text
    yields no shingles). Shingling, hashing and the settings check are
    :func:`_text_shingle_hasher`'s.

    Why a UDF: building shingle STRINGS with slice/array_join
    expressions is interpreted per element and dominated the MinHash
    pipeline; here the strings never materialize in the plan —
    downstream Jaccard verification runs on the hash arrays.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    hashes = _text_shingle_hasher(shingle, n, seed, hash_family)

    def f(texts):
        return pd.Series([None if t is None else hashes(t) for t in texts])

    f.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    # deterministic in fact; see hyperplane_keys_np for why it's marked
    return pandas_udf(f, "array<long>").asNondeterministic()


def _md5_signer(num_hashes: int, seed: int):
    """Engine-portable MinHash signature of md5-family shingle hashes:
    ``sig[i] = min over h of md5int("{seed}:{i}:{h}")`` where ``md5int``
    = first 15 hex chars as BIGINT and ``{h}`` is the decimal string of
    the shingle hash.

    Every step is replayable in DuckDB SQL (list comprehension over
    ``range(num_hashes)`` + ``md5(concat(...))``), which is the whole
    point: the full signature→banding→candidate→verify pipeline gets a
    value-level DuckDB oracle instead of recall floors. ~num_hashes
    md5 calls per shingle — bound the input (the certification entries
    use a fixed 500-doc subset); the scale path is
    :func:`_rehash_signer`.
    """
    import hashlib

    prefixes = [f"{seed}:{i}:".encode() for i in range(num_hashes)]

    def sign(hs) -> list[int]:
        encoded = [str(h).encode() for h in hs.tolist()]
        return [
            min(int(hashlib.md5(p + e).hexdigest()[:15], 16) for e in encoded)
            for p in prefixes
        ]

    return sign


def _rehash_signer(num_hashes: int, seed: int):
    """MinHash signature of 64-bit shingle hashes by the standard
    multiply-shift rehash: h_i = a_i * h + b_i over Z_2^64 (odd a_i) —
    one hash of the string, num_hashes integer mixes, all in one numpy
    broadcast per row."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = (rng.randint(0, 2**63, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 2**63, size=num_hashes).astype(np.uint64)

    def sign(hs) -> list[int]:
        hh = hs.astype(np.uint64)
        with np.errstate(over="ignore"):
            mixed = a[:, None] * hh[None, :] + b[:, None]  # wraps mod 2^64
        return mixed.min(axis=1).astype(np.int64).tolist()

    return sign


def minhash_signature_np(
    shingle: str, n: int, seed: int, hash_family: str, num_hashes: int
):
    """The MinHash kernel: a pandas_udf mapping a text column to
    ``struct<_h: array<bigint>, _sig: array<bigint>>`` — the distinct
    shingle hashes (:func:`_text_shingle_hasher`) and the
    ``num_hashes``-wide signature computed from that same in-memory
    hash list, in ONE Arrow pass. Both fields are NULL when the text
    yields no shingle.

    The signature is the multiply-shift rehash (:func:`_rehash_signer`)
    for ``hash_family='blake2b'`` and the engine-portable md5 signature
    (:func:`_md5_signer`) for ``'md5'``. Signing inside the shingling
    pass keeps the hash arrays from a second round trip through Arrow.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    hashes = _text_shingle_hasher(shingle, n, seed, hash_family)
    sign = (
        _md5_signer(num_hashes, seed)
        if hash_family == "md5"
        else _rehash_signer(num_hashes, seed)
    )

    def f(texts):
        _drop_archive_importers()
        hs = [None if t is None else hashes(t) for t in texts]
        return pd.DataFrame(
            {"_h": hs, "_sig": [None if h is None else sign(h) for h in hs]}
        )

    f.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    # deterministic in fact; see hyperplane_keys_np for why it's marked
    return pandas_udf(
        f, "struct<_h: array<bigint>, _sig: array<bigint>>"
    ).asNondeterministic()


def simhash_np(seed: int = 42, hash_family: str = "blake2b"):
    """Arrow-vectorized 64-bit SimHash of the token multiset: a pandas_udf
    mapping text to BIGINT (NULL for token-less text).

    Bit j is set iff the +1/-1 vote sum over token-hash bit j is
    positive; the token hash is a salted blake2b-8. The 64 x tokens vote
    matrix is one numpy broadcast per row.

    ``hash_family='md5'``: the engine-portable certification family —
    token hash = first 16 hex chars of ``md5("{seed}:" + tok)`` as
    uint64, replayable in DuckDB as ``CAST(concat('0x',
    substr(md5(concat('{seed}:', t)), 1, 16)) AS UBIGINT)`` so the
    whole simhash→banding→hamming pipeline gets a value-level oracle
    (dq_simhash_pairs; same trade as the MinHash md5 face).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .text import py_tokenize

    if hash_family not in ("blake2b", "md5"):
        raise ValueError(
            f"simhash_np: hash_family must be 'blake2b' or 'md5', "
            f"got {hash_family!r}"
        )
    salt = seed.to_bytes(8, "little", signed=True)
    md5_prefix = f"{seed}:".encode()
    bit_idx = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << bit_idx

    if hash_family == "md5":
        def one_hash(x: str) -> int:
            return int(
                hashlib.md5(md5_prefix + x.encode("utf-8")).hexdigest()[:16],
                16,
            )
    else:
        def one_hash(x: str) -> int:
            return int.from_bytes(
                hashlib.blake2b(
                    salt + x.encode("utf-8"), digest_size=8
                ).digest(),
                "little",
            )

    def f(texts):
        out = [None] * len(texts)
        for i, t in enumerate(texts):
            if t is None:
                continue
            toks = py_tokenize(t)
            if not toks:
                continue
            hs = np.array([one_hash(x) for x in toks], dtype=np.uint64)
            bits = ((hs[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            packed = (weights * (votes > 0)).sum(dtype=np.uint64)
            out[i] = int(packed.astype(np.int64))
        return pd.Series(out)

    f.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    # deterministic in fact; see hyperplane_keys_np for why it's marked
    return pandas_udf(f, "long").asNondeterministic()


def md5_uniform(tag: str) -> float:
    """Engine-replayable uniform in (0, 1): ``(int(md5(tag)[:6], 16) +
    0.5) / 2^24`` (the +0.5 keeps ln() off exact 0). THE
    certification-critical formula shared by every md5-derived random
    family — RFF weights (operators/drift.py _md5_rff_weights) and LSH
    hyperplanes alike; any change here must be mirrored in every
    oracle SQL that replays it."""
    import hashlib

    k = int(hashlib.md5(tag.encode()).hexdigest()[:6], 16)
    return (k + 0.5) / 16777216.0


def md5_gauss(tag1: str, tag2: str) -> float:
    """Standard-normal draw via Box–Muller over two :func:`md5_uniform`
    tags — replayable as ``sqrt(-2*ln(u1)) * cos(2*pi()*u2)`` in any
    engine with md5/ln/cos."""
    import math as _math

    return _math.sqrt(-2.0 * _math.log(md5_uniform(tag1))) * _math.cos(
        2.0 * _math.pi * md5_uniform(tag2)
    )


def md5_hyperplanes(
    num_tables: int, num_planes: int, dim: int, seed: int = 42
) -> list[list[list[float]]]:
    """Engine-replayable random hyperplanes: :func:`md5_gauss` draws
    with tags ``hp1|seed|t|p|j`` / ``hp2|seed|t|p|j`` — the dq_mmd
    ``weights='md5'`` construction applied to hyperplane LSH, so a
    DuckDB oracle can rebuild every plane weight bit-for-bit
    (libm-level) and replay the whole bucketing
    (dq_embedding_pairs_lsh, dq_lsh_topk). Driver-side,
    parameter-bounded: tables x planes x dim md5 calls."""
    return [
        [
            [
                md5_gauss(f"hp1|{seed}|{t}|{p}|{j}", f"hp2|{seed}|{t}|{p}|{j}")
                for j in range(dim)
            ]
            for p in range(num_planes)
        ]
        for t in range(num_tables)
    ]


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has a zero or
    NON-FINITE norm. The finite guard matters for ranking: an Inf
    element (or a magnitude whose square overflows) makes the norm Inf
    and the ratio NaN, and Spark orders NaN ABOVE every real double —
    one damaged vector would rank as the #1 neighbor of every query.
    NULL instead sorts last under the DESC windows all the top-k paths
    use."""
    d = dot(a, b)
    n = norm(a) * norm(b)
    c = F.when(
        (n > 0) & ~F.isnan(n) & (n < F.lit(float("inf"))), d / n
    )
    # belt over braces: mask any residual NaN from the division itself
    return F.when(~F.isnan(c), c)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize; zero vectors pass through unchanged (avoid div-0)."""
    a = F.col(a) if isinstance(a, str) else a
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda v: v / n)).otherwise(a)
