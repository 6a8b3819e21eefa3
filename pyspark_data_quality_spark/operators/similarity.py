"""Similarity search over embedding columns (north-star extension).

Three paths:

- :func:`brute_force_topk` — exact top-k cosine neighbors. The query set
  is broadcast (it is small by construction); the corpus is scanned once;
  per-query top-k selection uses a window ranked by similarity. Cost is
  O(|corpus| x |queries|) score computations — the exact baseline every
  ANN variant is measured against.
- :func:`lsh_topk` — approximate top-k: random-hyperplane buckets
  (multi-table) prune the corpus to same-bucket candidates before exact
  scoring. Sub-linear scored pairs at the cost of recall.
- :func:`ivf_topk` — inverted-file ANN: a deterministic spherical-k-means
  coarse quantizer (:func:`train_ivf_centroids`, one tiny training
  action), then queries probe only their nprobe nearest centroid lists.
  The standard shape when the corpus can be pre-partitioned by list.

Exact verify scoring is JVM-side (``zip_with``/``aggregate`` dot
products); bucket/centroid assignment is Arrow-vectorized numpy (one
batched pass per Arrow batch). Hyperplanes/centroids are deterministic
(fixed seed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS
from ..functions.vectors import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, rank, cosine). Ties broken by
    neighbor id (deterministic). Queries are explicitly broadcast — the
    join is a broadcast nested loop over one corpus scan, no corpus
    shuffle; the only shuffle is the per-query top-k window over scored
    rows.
    """
    from ..functions.vectors import dot, norm
    from ..plans.parallelism import ensure_min_partitions

    # The per-pair interpreted dot products run in the corpus scan's own
    # partitioning (the broadcast join adds no exchange) — a single-file
    # corpus would score |corpus| x |queries| pairs on ONE task. The
    # guard is a no-op when the scan already has real parallelism.
    corpus = ensure_min_partitions(corpus)
    # Norms precomputed ONCE per vector (not per pair): cosine becomes
    # dot/(_cn*_qn) — the identical IEEE expression with 1 array-aggregate
    # per pair instead of 3 (the interpreted HOF evals are the cost).
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    ).crossJoin(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("_qv"),
                norm(F.col(query_vec_col)).alias("_qn"),
            )
        )
    ).select(
        "query_id",
        "neighbor_id",
        # same finite guard as functions/vectors.cosine_similarity: a
        # non-finite norm product would yield a NaN that Spark ranks
        # ABOVE every real similarity — NULL sorts last instead
        F.round(
            F.when(
                (F.col("_cn") * F.col("_qn") > 0)
                & ~F.isnan(F.col("_cn") * F.col("_qn"))
                & (F.col("_cn") * F.col("_qn") < F.lit(float("inf"))),
                dot(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn")),
            ),
            DIGITS,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def self_topk(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_ids: list | None = None,
) -> DataFrame:
    """Top-k neighbors within one table (excluding self), optionally for a
    subset of query ids (the common evaluation shape)."""
    queries = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    if query_ids is not None:
        queries = queries.filter(F.col("query_id").isin(query_ids))
    out = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k + 1
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 10000,
    planes: str = "rng",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing at least one
    hyperplane-LSH bucket with the query (any of ``num_tables`` tables).

    ``planes='md5'`` draws the hyperplanes via md5 Box–Muller
    (:func:`..functions.vectors.md5_hyperplanes`) so a DuckDB oracle
    can replay the whole probe pipeline (dq_lsh_topk) and keys with the
    dim-sequential kernel the oracle's accumulation order needs;
    ``'rng'`` is the production default and keys with the batched
    matrix multiply. Vector-width handling follows
    :func:`..operators.dedup.embedding_near_dup_pairs`.

    Recall rises with tables, candidate count with 1/planes; 6x12 at
    64-dim gives ~0.9+ recall@10 on uniform data. Output schema matches
    :func:`brute_force_topk` (fewer than k rows possible when buckets are
    sparse — callers needing exactly k should fall back to brute force for
    starved queries).

    Pass ``dim`` (embedding width) so plan construction stays action-free;
    without it a one-row probe job runs. Corpus buckets larger than
    ``max_bucket_size`` are dropped (hot-bucket guard — a giant
    near-identical cluster would otherwise explode the candidate join).
    """
    import random

    from ..functions.vectors import vector_dim
    from .dedup import _explode_hyperplane_buckets, cap_buckets

    if planes not in ("rng", "md5"):
        raise ValueError(
            f"lsh_topk: planes must be 'rng' or 'md5', got {planes!r}"
        )
    dim = vector_dim(corpus, vec_col, dim)
    if dim is None:  # empty corpus: empty result with the contract schema
        # query_id keeps the QUERIES frame's id type (the corpus id may
        # differ — the schema must match the non-empty path's output).
        # Each side is projected BEFORE the crossJoin: selecting by bare
        # name afterwards is ambiguous whenever the queries frame also
        # carries a column named like the corpus id
        q0 = queries.limit(0).select(
            F.col(query_id_col).alias("query_id")
        )
        c0 = corpus.limit(0).select(F.col(id_col).alias("neighbor_id"))
        return q0.crossJoin(c0).select(
            "query_id",
            "neighbor_id",
            F.lit(0).alias("rank"),
            F.lit(0.0).alias("cosine"),
        )
    if planes == "md5":
        from ..functions.vectors import md5_hyperplanes

        tables = md5_hyperplanes(num_tables, num_planes, dim, seed)
    else:
        rnd = random.Random(seed)
        tables = [
            [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
            for _ in range(num_tables)
        ]

    sequential = planes == "md5"
    cb = _explode_hyperplane_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        ),
        "_cv", tables, sequential, ["neighbor_id", "_cv"],
    )
    cb = cap_buckets(cb, ["_t", "_k"], max_bucket_size)

    qb = _explode_hyperplane_buckets(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
        ),
        "_qv", tables, sequential, ["query_id", "_qv"],
    )

    candidates = (
        cb.join(F.broadcast(qb), on=["_t", "_k"])
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("_cv"), F.col("_qv")), DIGITS
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the classic coarse-quantizer scale path
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 64,
    sample_size: int = 4096,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Train the IVF coarse quantizer: spherical k-means on a deterministic
    corpus sample, driver-side numpy.

    This is the ONE deliberate action of the IVF pipeline (quantizer
    training is a separate step in every IVF system); the sample is tiny
    (sample_size x dim floats) regardless of corpus size — rows are picked
    by hash order, so the same corpus always yields the same centroids.
    :func:`ivf_topk` itself stays action-free.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_ivf_centroids: empty corpus (no non-null, non-empty "
            f"'{vec_col}' vectors) — nothing to train a quantizer on"
        )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    # one NaN training vector would otherwise collapse the quantizer:
    # argmax over an all-NaN similarity row returns position 0, that
    # centroid goes NaN, and on the next iteration EVERY point assigns
    # to it — the remaining centroids never move off their random init
    X = X[np.isfinite(X).all(axis=1)]
    if not len(X):
        raise ValueError(
            "train_ivf_centroids: every sampled vector contains "
            "non-finite values — nothing to train a quantizer on"
        )
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(num_centroids, len(X))
    rng = np.random.RandomState(seed)
    C = X[rng.permutation(len(X))[:k]].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C.tolist()


def _nearest_centroids_np(centroids: list[list[float]], nprobe: int):
    """pandas_udf: vector -> array<int> of the nprobe nearest centroid ids
    (cosine, descending) — one batched matrix multiply."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    nprobe = min(nprobe, len(C))

    def f(v):
        out = [None] * len(v)
        # non-finite vectors get a NULL assignment (and thus never
        # surface as search results): a NaN/Inf element would otherwise
        # poison the batched matmul row and fabricate an arbitrary but
        # plausible-looking code/list for a damaged vector
        valid = [
            i
            for i, x in enumerate(v)
            if x is not None
            and len(x) > 0
            and np.isfinite(np.asarray(x, dtype=np.float64)).all()
        ]
        if valid:
            M = np.vstack([np.asarray(v.iloc[i], dtype=np.float64) for i in valid])
            sims = M @ C.T
            # stable: exact similarity ties resolve to the SMALLEST
            # centroid id every run (quicksort's tie order is
            # implementation-defined), matching the SQL-oracle
            # tie-break (sim DESC, cid ASC) in dq_ivf_topk
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(
                np.int32
            )
            for row, i in enumerate(valid):
                out[i] = top[row].tolist()
        return pd.Series(out)

    f.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # NOT asNondeterministic (unlike the shingle/hyperplane kernels):
    # the probe-side list assignment feeds the ivf_topk join key, and a
    # nondeterministic probe expression disables dynamic partition
    # pruning on a list-partitioned corpus store — file-level skipping
    # is worth far more at scale than avoiding a duplicate eval of this
    # tiny (queries x centroids) kernel
    return pandas_udf(f, "array<int>")


def assign_ivf_lists(
    corpus: DataFrame,
    *,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    list_col: str = "ivf_list",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid's inverted list
    ONCE, and repartition so each list is co-located.

    This is the "partition the corpus by list and reuse it" step that
    :func:`ivf_topk`'s docstring promises: run it once per corpus (then
    optionally persist / write out partitioned by ``list_col``), and pass
    the result to ``ivf_topk(..., list_col=...)`` for every query batch —
    the per-batch plan then contains NO corpus-side assignment UDF, only
    the broadcast-query candidate join. At 100 TB this turns centroid
    assignment from a per-query-batch scan into a one-time materialization,
    and the repartition means a probe touches only nprobe/num_centroids of
    the data.
    """
    assign1 = _nearest_centroids_np(centroids, 1)
    out = corpus.withColumn(
        list_col, F.element_at(assign1(F.col(vec_col)), 1)
    )
    return out.repartition(num_partitions or min(len(centroids), 200), list_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    nprobe: int = 8,
    list_col: str | None = None,
) -> DataFrame:
    """Approximate top-k via an inverted file: every corpus vector belongs
    to its nearest centroid's list; a query scans only its ``nprobe``
    nearest lists.

    Scale shape: corpus assignment is one narrow projection — or zero
    work when the corpus was pre-assigned with :func:`assign_ivf_lists`
    (pass its column via ``list_col``; the per-batch plan then has no
    corpus-side UDF and prunes to nprobe/num_centroids of the data).
    Queries are broadcast, so the candidate join never shuffles the
    corpus. Recall rises with nprobe (nprobe == num_centroids degrades to
    brute force). Output schema matches :func:`brute_force_topk`.
    """
    probe_n = _nearest_centroids_np(centroids, nprobe)

    if list_col is not None:
        if list_col not in corpus.columns:
            raise ValueError(
                f"ivf_topk: list_col '{list_col}' not in corpus columns "
                f"{corpus.columns}; run assign_ivf_lists first"
            )
        cb = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            F.col(list_col).alias("_c"),
        )
    else:
        assign1 = _nearest_centroids_np(centroids, 1)
        cb = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            F.element_at(assign1(F.col(vec_col)), 1).alias("_c"),
        )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
        F.explode(probe_n(F.col(query_vec_col))).alias("_c"),
    )
    scored = cb.join(F.broadcast(qb), "_c").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity(F.col("_cv"), F.col("_qv")), DIGITS
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def pca_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim_out: int,
    whiten: bool = False,
    dim: int | None = None,
) -> dict:
    """Fit a PCA projection over an embedding column — the standard
    dimensionality-reduction/whitening step before ANN indexing or
    semantic dedup (smaller vectors, decorrelated components).

    EXACT and distributed in one pass: a mapInPandas kernel accumulates
    the moment partials (count, Σx, Σxxᵀ flattened) across its WHOLE
    partition and emits one packed vector; the partials are then
    posexploded and summed PER INDEX through a normal hash aggregate —
    map-side combined, so no single task ever buffers all partials (the
    previous collect_list fold held partitions·d² doubles in one
    aggregation buffer: ~470 GB at 1B×768-dim, an OOM by design). The
    d×d eigendecomposition happens driver-side (numpy, microseconds —
    the IVF-quantizer class of deliberate tiny action) from the
    collected 1+d+d² sums. A fused ``covar_samp`` grid was rejected:
    d=64 needs 2,144 aggregate expressions and Catalyst spends ~35 s
    compiling them (measured).

    Vectors containing NaN/±Inf are EXCLUDED from the moments (the
    package-wide finite-statistics contract; one damaged vector would
    otherwise surface as a LinAlgError from the eigensolver after the
    full pass), as are vectors whose length differs from the column's
    dimensionality. Pass ``dim`` to keep model-building action-free;
    without it a one-row probe resolves d.

    Returns a plain-dict model (JSON-serializable — persist it next to
    the corpus): mean, components (dim_out × d), explained_variance_
    ratio, whiten flag. Apply with :func:`pca_apply`.
    """
    import numpy as np
    import pandas as pd

    from ..functions.vectors import vector_dim

    if dim_out < 1:
        raise ValueError("pca_fit: dim_out must be >= 1")
    d = vector_dim(df, vec_col, dim)
    if d is None:
        raise ValueError(
            f"pca_fit: no non-null, non-empty '{vec_col}' vectors"
        )

    def partials(batches):
        n_tot = 0
        s_tot = np.zeros(d, dtype=np.float64)
        ss_tot = np.zeros(d * d, dtype=np.float64)
        for pdf in batches:
            vs = [
                v for v in pdf[vec_col] if v is not None and len(v) == d
            ]
            if not vs:
                continue
            X = np.asarray(list(vs), dtype=np.float64)
            X = X[np.isfinite(X).all(axis=1)]
            if not len(X):
                continue
            n_tot += len(X)
            s_tot += X.sum(axis=0)
            ss_tot += (X.T @ X).ravel()
        if n_tot:
            yield pd.DataFrame(
                {
                    "acc": [
                        np.concatenate(
                            ([float(n_tot)], s_tot, ss_tot)
                        ).tolist()
                    ]
                }
            )

    part = df.select(vec_col).mapInPandas(partials, "acc array<double>")
    sums = (
        part.select(F.posexplode("acc").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    total = np.zeros(1 + d * (d + 1), dtype=np.float64)
    for r in sums:
        total[r["idx"]] = r["val"]
    n = int(total[0])
    if n < 2:
        raise ValueError("pca_fit: need at least 2 finite vectors")
    s = total[1 : 1 + d]
    ss = total[1 + d :].reshape(d, d)
    mu = s / n
    cov = (ss - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    k = min(dim_out, d)
    total = float(evals.clip(min=0).sum()) or 1.0
    return {
        "mean": mu.tolist(),
        "components": evecs[:, :k].T.tolist(),
        "explained_variance": evals[:k].clip(min=0).tolist(),
        "explained_variance_ratio": (
            evals[:k].clip(min=0) / total
        ).tolist(),
        "whiten": bool(whiten),
    }


def pca_apply(
    df: DataFrame,
    model: dict,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
    check_dim: bool = True,
) -> DataFrame:
    """Project an embedding column through a :func:`pca_fit` model:
    ``out = (x - mean) @ componentsᵀ`` (divided by √variance when the
    model was fit with ``whiten=True``). One Arrow-vectorized kernel —
    a single matmul per batch, no shuffle; NULL/empty vectors map to
    NULL.

    ``check_dim`` (default) probes one row and FAILS LOUD when the
    column's dimensionality differs from the model's — a stale model
    or wrong column would otherwise project every row to NULL and read
    as 100% missing data downstream. Pass ``check_dim=False`` to keep
    plan construction action-free (the per-row length mask still maps
    mismatched vectors to NULL rather than crashing the kernel)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.vectors import vector_dim

    W = np.asarray(model["components"], dtype=np.float64)
    mu = np.asarray(model["mean"], dtype=np.float64)
    if check_dim:
        d_in = vector_dim(df, vec_col)
        if d_in is not None and d_in != len(mu):
            raise ValueError(
                f"pca_apply: column '{vec_col}' is {d_in}-dimensional "
                f"but the model was fit on {len(mu)} dimensions — "
                "wrong model or wrong column"
            )
    scale = None
    if model.get("whiten"):
        ev = np.asarray(model["explained_variance"], dtype=np.float64)
        scale = 1.0 / np.sqrt(np.maximum(ev, 1e-12))

    def project(s):
        ok = s.map(lambda v: v is not None and len(v) == len(mu))
        if not ok.any():
            return pd.Series([None] * len(s))
        X = np.asarray(list(s[ok]), dtype=np.float64)
        Y = (X - mu) @ W.T
        if scale is not None:
            Y = Y * scale
        out = pd.Series([None] * len(s), dtype=object)
        out[np.flatnonzero(ok.to_numpy())] = list(
            Y.astype(np.float32)
        )
        return out

    project.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # NOT asNondeterministic (r15-opt review): public API whose output
    # is projected/aggregated, never exploded or filtered in-repo — the
    # marking would only block caller-filter pushdown (see
    # repair.unicode_normalize for the rationale)
    kern = pandas_udf(project, "array<float>")
    return df.withColumn(out_col, kern(F.col(vec_col)))


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_subvectors: int = 8,
    codebook_size: int = 256,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jégou et al.: split each L2-normalized vector
    into ``num_subvectors`` slices, k-means each slice independently) on
    a deterministic hash-ordered sample — the same one-bounded-action
    contract as :func:`train_ivf_centroids`. Returns
    ``num_subvectors × codebook_size × (dim/num_subvectors)`` floats
    (a 64-dim/8×256 setup is 16k floats — trivially broadcastable).

    Why PQ at 100 TB: a float32 corpus of 1B × 768-dim embeddings is
    ~3 TB of vectors; 8-bit PQ codes at m=8..96 are 8-96 BYTES per
    vector — the difference between "embeddings fit in executor memory
    for scanning" and "every probe is an I/O problem". Accuracy is
    traded for it; measure with the recall harness before shipping a
    config.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .orderBy(F.xxhash64(F.col("i").cast("string"), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq_codebooks: empty corpus sample")
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    # same guard as train_ivf_centroids: one NaN sample poisons the
    # subvector k-means (NaN codebook rows make every downstream ADC
    # score NaN, which pandas->Arrow then surfaces as NULL scores)
    X = X[np.isfinite(X).all(axis=1)]
    if not len(X):
        raise ValueError(
            "train_pq_codebooks: every sampled vector contains "
            "non-finite values — nothing to train codebooks on"
        )
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    m = num_subvectors
    if d % m != 0:
        raise ValueError(
            f"train_pq_codebooks: dim {d} not divisible by "
            f"num_subvectors {m}"
        )
    sub = d // m
    k = min(codebook_size, len(X))
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.permutation(len(Xj))[:k]].copy()
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C.tolist())
    return books


def _pq_encode_np(codebooks: list[list[list[float]]]):
    """pandas_udf: L2-normalized vector -> array<int> of per-subvector
    nearest (euclidean) codebook indices."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(C)
    sub = C[0].shape[1]

    def f(v):
        out = [None] * len(v)
        # non-finite vectors get a NULL assignment (and thus never
        # surface as search results): a NaN/Inf element would otherwise
        # poison the batched matmul row and fabricate an arbitrary but
        # plausible-looking code/list for a damaged vector
        valid = [
            i
            for i, x in enumerate(v)
            if x is not None
            and len(x) > 0
            and np.isfinite(np.asarray(x, dtype=np.float64)).all()
        ]
        if valid:
            M = np.vstack(
                [np.asarray(v.iloc[i], dtype=np.float64) for i in valid]
            )
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(valid), m), dtype=np.int32)
            for j in range(m):
                Xj = M[:, j * sub : (j + 1) * sub]
                # argmin ||x - c||^2 = argmax (x.c - ||c||^2/2)
                scores = Xj @ C[j].T - 0.5 * (C[j] ** 2).sum(axis=1)
                codes[:, j] = scores.argmax(axis=1)
            for row, i in enumerate(valid):
                out[i] = codes[row].tolist()
        return pd.Series(out)

    f.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # NOT asNondeterministic: codes are written to stores / joined on
    # downstream (same class of planner restrictions as the IVF probe
    # kernel above), and nothing explodes or filters this column, so
    # there is no duplicate-eval risk to prevent
    return pandas_udf(f, "array<int>")


def pq_encode(
    corpus: DataFrame,
    *,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append ``code_col``: the vector's PQ codes (array<int>, one per
    subvector — persist this and DROP the float vectors; the codes ARE
    the compressed index). One Arrow pass, no shuffle."""
    return corpus.withColumn(code_col, _pq_encode_np(codebooks)(F.col(vec_col)))


def _collect_query_batch(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    max_queries: int,
    fn_name: str,
) -> list:
    """ONE bounded action for the ANN query side. The collect is capped
    at ``max_queries`` and FAILS LOUD above it (same loud-bound contract
    as the train_* ``sample_size`` caps): an unbounded query frame would
    silently become a driver-sized LUT broadcast — SCALE.md invariant #1
    is that every collect is parameter-bounded. Batch huge query sets by
    calling per-slice, or raise ``max_queries`` deliberately."""
    qrows = (
        queries.select(
            F.col(query_id_col).alias("q"), F.col(query_vec_col).alias("v")
        )
        # null/empty/non-finite queries are DROPPED (they produce no
        # result rows): an empty array would crash the ragged
        # np.array build, and a NaN element would make every ADC score
        # NaN — which Spark ranks above all real scores, fabricating k
        # confident garbage neighbors for that query
        .filter(
            F.col(query_vec_col).isNotNull()
            & (F.size(query_vec_col) > 0)
            & F.forall(
                query_vec_col,
                lambda x: x.isNotNull()
                & ~F.isnan(x)
                & (F.abs(x) < F.lit(float("inf"))),
            )
        )
        .limit(max_queries + 1)
        .collect()
    )
    if not qrows:
        raise ValueError(f"{fn_name}: no usable (finite) query vectors")
    if len(qrows) > max_queries:
        raise ValueError(
            f"{fn_name}: query batch exceeds max_queries={max_queries}; "
            "the query side is collected into broadcast LUTs — slice the "
            "query frame and call per-slice, or raise max_queries "
            "deliberately"
        )
    return qrows


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    *,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    max_queries: int = 4096,
    _qrows: list | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: each query precomputes an m×codebook_size lookup table of
    sub-inner-products; a corpus vector's score is m table lookups — no
    float vectors are read at query time.

    Scale shape: the query batch is COLLECTED once — bounded by
    ``max_queries`` with a loud failure above it, same contract as the
    train_* ``sample_size`` caps — into LUTs shipped
    inside a ``mapInPandas`` closure; each Arrow batch scores all its
    codes against all queries with one gather-accumulate and emits only
    its LOCAL top-k per query, so the shuffle to the final per-query
    window carries ≤ batches × queries × k rows — never n×q pairs.
    Compose with :func:`assign_ivf_lists` pre-filtering for IVF-PQ
    (probe lists first, ADC inside the probed lists).

    Output: (query_id, neighbor_id, rank, score) — score is the ADC
    approximation of the cosine (inner product of normalized vectors),
    ties broken by neighbor id.
    """
    import numpy as np

    from pyspark.sql.window import Window

    qrows = (
        _collect_query_batch(
            queries, query_id_col, query_vec_col, max_queries, "pq_topk"
        )
        if _qrows is None
        else _qrows
    )
    C = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(C)
    sub = C[0].shape[1]
    qids = [r["q"] for r in qrows]
    Q = np.array([r["v"] for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # luts[q, j, c] = <Q[q] slice j, codebook j centroid c>
    luts = np.stack(
        [Q[:, j * sub : (j + 1) * sub] @ C[j].T for j in range(m)], axis=1
    )
    nq = len(qids)
    qid_dtype = dict(queries.dtypes)[query_id_col]
    nid_dtype = dict(corpus_codes.dtypes)[id_col]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf[code_col].notna()]
            if len(pdf) == 0:
                continue
            # rows sorted by id so the stable argsort below breaks
            # score ties on ascending neighbor id — argpartition alone
            # kept an ARBITRARY tied subset, making the local top-k
            # (and thus the final result on tie-heavy corpora, e.g.
            # exact-duplicate codes) nondeterministic across runs
            pdf = pdf.sort_values(id_col, kind="stable")
            codes = np.vstack(pdf[code_col].to_numpy())  # n × m
            n = len(codes)
            acc = np.zeros((nq, n), dtype=np.float64)
            for j in range(m):
                acc += luts[:, j, codes[:, j]]
            kk = min(k, n)
            idx = np.argsort(-acc, axis=1, kind="stable")[:, :kk]
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_s = [], [], []
            for qi in range(nq):
                out_q.extend([qids[qi]] * kk)
                out_id.extend(ids[idx[qi]].tolist())
                out_s.extend(acc[qi, idx[qi]].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_id, "score": out_s}
            )

    local = corpus_codes.select(id_col, code_col).mapInPandas(
        gen, f"query_id {qid_dtype}, neighbor_id {nid_dtype}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def ivf_pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    *,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    list_col: str = "ivf_list",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    nprobe: int = 8,
    max_queries: int = 4096,
) -> DataFrame:
    """IVF-PQ: the full compressed-index search — coarse-quantizer
    pruning (scan only the query batch's probed inverted lists) over a
    corpus that stores ONLY PQ codes (:func:`assign_ivf_lists` +
    :func:`pq_encode` at build time, float vectors dropped), then ADC
    scoring within the probed subset.

    The probed-list set is the UNION over the query batch (batched
    probing: per-query pruning of an already-broadcast LUT batch buys
    nothing, and scoring a neighbor from another query's list can only
    raise recall). The list set is nprobe × |queries| ids at most — a
    tiny driver-side value baked into the partition-prunable ``isin``
    filter, so a corpus written ``partitionBy(list_col)`` skips
    unprobed lists at the SCAN. Recall ≥ plain IVF at equal nprobe
    would be wrong to claim (ADC quantization error trades some back);
    measure with the harness.
    """
    import numpy as np

    # ONE action for the query side: the same bounded batch drives the
    # coarse probe here and the ADC LUTs in pq_topk (passed via _qrows)
    qrows = _collect_query_batch(
        queries, query_id_col, query_vec_col, max_queries, "ivf_pq_topk"
    )
    C = np.asarray(centroids, dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    Q = np.array([r["v"] for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    sims = Q @ C.T
    npb = min(nprobe, C.shape[0])
    probed = sorted(
        {int(c) for row in np.argsort(-sims, axis=1)[:, :npb] for c in row}
    )
    pruned = corpus_codes.filter(F.col(list_col).isin(probed))
    return pq_topk(
        pruned,
        queries,
        codebooks=codebooks,
        id_col=id_col,
        code_col=code_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
        max_queries=max_queries,
        _qrows=qrows,
    )
