"""Incremental corpus state: the daily-batch-vs-100 TB-history shape.

Re-deduplicating (or re-profiling) the whole historical corpus every
time a new batch lands is the canonical scale failure. The fix is to
persist SMALL derived state between batches and fold each increment
into it:

- **fingerprint set** (64-bit content hashes, one column) — powers
  exact dedup-against-history without ever touching historical text;
- **mergeable sketch state** (HLL + KLL per group) — powers corpus
  statistics where the new total is a sketch UNION, never a rescan;
- **vocabulary counts** (token, count) — powers drift/KL checks of the
  new batch against the historical token distribution.

State lives in a plain parquet directory, readable by any engine:
versioned subdirectories ``v=<N>/{fingerprints,vocab,sketches}`` with a
tiny ``_CURRENT`` pointer file naming the committed version. An update
writes the WHOLE next version before atomically renaming the new
pointer into place (single-file rename — the only multi-directory-
atomic primitive a plain filesystem offers), so a crash at ANY point
leaves the previous version fully intact and internally consistent;
the delete-then-rename swap this replaces could lose the state outright
or commit the three frames at different versions. The version before
last is pruned after commit (readers hold lazy plans over the previous
version, so exactly one old version is retained). All three updates
are idempotent per batch ONLY if the caller dedups batches (state
update is a fold, not a set — replaying a batch double-counts
vocab/sketches; fingerprints are set-semantics and safe to replay).

At 100 TB: state size is O(distinct docs) hashes + O(|vocab|) +
O(groups x sketch), all orders of magnitude smaller than the corpus;
each batch's cost is O(batch) plus joins against hash/vocab frames.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expr import DIGITS
from ..functions.text import doc_fingerprint, tokenize

_FP = "fingerprints"
_VOCAB = "vocab"
_SKETCH = "sketches"
_CURRENT = "_CURRENT"


def _kll_merge_agg(col: str) -> F.Column:
    """Aggregate-merge a KLL sketch column: fold the collected sketches,
    seeded NULL-safely (try_element_at) so an empty group/frame
    null-propagates instead of throwing under ANSI — the
    ``sketch_rollup`` pattern (operators/profile.py)."""
    lst = F.collect_list(col)
    return F.reduce(
        F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
        F.try_element_at(lst, F.lit(1)),
        lambda acc, s: F.kll_sketch_merge_double(acc, s),
    )


def _sub(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, name)


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(jsc.hadoopConfiguration())


def _read_version(spark: SparkSession, state_dir: str) -> int | None:
    """Committed state version from the ``_CURRENT`` pointer, or None on
    a virgin directory."""
    ptr = _sub(state_dir, _CURRENT)
    if not _exists(spark, ptr):
        return None
    jvm, fs = _fs(spark, ptr)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(ptr))
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream)
        )
        return int(reader.readLine().strip())
    finally:
        stream.close()


def _commit_version(spark: SparkSession, state_dir: str, n: int) -> None:
    """Atomically point ``_CURRENT`` at version ``n``: write a temp file,
    rename over the pointer — the single-file rename is the atomic
    commit for the whole three-frame version."""
    jvm, fs = _fs(spark, state_dir)
    tmp = jvm.org.apache.hadoop.fs.Path(
        _sub(state_dir, _CURRENT + ".tmp")
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(str(n).encode()))
    finally:
        out.close()
    dst = jvm.org.apache.hadoop.fs.Path(_sub(state_dir, _CURRENT))
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(tmp, dst)


@dataclass
class CorpusState:
    """Handles to the three persisted state frames."""

    fingerprints: DataFrame  # (fp bigint)
    vocab: DataFrame         # (token string, n bigint)
    sketches: DataFrame      # (group string, n bigint, hll binary, kll binary)


def read_state(spark: SparkSession, state_dir: str) -> CorpusState | None:
    """Load the committed state version, or None when the directory is
    virgin (no ``_CURRENT`` pointer — a crashed first update leaves no
    pointer, so its partial version directory is invisible)."""
    v = _read_version(spark, state_dir)
    if v is None:
        return None
    vdir = _sub(state_dir, f"v={v}")
    return CorpusState(
        fingerprints=spark.read.parquet(_sub(vdir, _FP)),
        vocab=spark.read.parquet(_sub(vdir, _VOCAB)),
        sketches=spark.read.parquet(_sub(vdir, _SKETCH)),
    )


def _batch_state(
    batch: DataFrame, text_col: str, group_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    fp = batch.select(doc_fingerprint(text_col).alias("fp")).distinct()
    vocab = (
        batch.select(F.explode(tokenize(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_tok = F.size(tokenize(text_col)).cast("double")
    sketches = (
        batch.select(
            F.col(group_col).cast("string").alias("group"),
            doc_fingerprint(text_col).cast("string").alias("_fps"),
            n_tok.alias("_len"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_agg("_fps").alias("hll"),
            F.kll_sketch_agg_double("_len").alias("kll"),
        )
    )
    return fp, vocab, sketches


def update_corpus_state(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> None:
    """Fold one batch into the persisted state (create it if virgin).

    - fingerprints: set union (distinct of old ∪ new hashes);
    - vocab: counts summed by token;
    - sketches: per-group row counts summed, HLL/KLL sketches MERGED —
      the whole point: the historical data is never rescanned.

    The whole next version (three frames) is written to a fresh
    ``v=<N+1>`` directory and committed by one atomic pointer rename —
    a crash at any point leaves version N fully intact; version N-1 is
    pruned only after the commit. The batch is persisted across the
    three derived writes so its source is scanned once, not three
    times.
    """
    v = _read_version(spark, state_dir)
    batch.persist()
    try:
        fp_new, vocab_new, sk_new = _batch_state(
            batch, text_col, group_col
        )
        prior = read_state(spark, state_dir)
        if prior is not None:
            fp_new = prior.fingerprints.union(fp_new).distinct()
            vocab_new = (
                prior.vocab.unionByName(vocab_new)
                .groupBy("token")
                .agg(F.sum("n").alias("n"))
            )
            sk_new = (
                prior.sketches.unionByName(sk_new)
                .groupBy("group")
                .agg(
                    F.sum("n").alias("n"),
                    F.hll_union_agg("hll").alias("hll"),
                    _kll_merge_agg("kll").alias("kll"),
                )
            )
        nxt = 0 if v is None else v + 1
        vdir = _sub(state_dir, f"v={nxt}")
        fp_new.write.mode("overwrite").parquet(_sub(vdir, _FP))
        vocab_new.write.mode("overwrite").parquet(_sub(vdir, _VOCAB))
        sk_new.write.mode("overwrite").parquet(_sub(vdir, _SKETCH))
        _commit_version(spark, state_dir, nxt)
    finally:
        batch.unpersist()
    # prune: keep the committed version and its predecessor (lazy reader
    # plans may still reference v-1); anything older is unreachable
    if v is not None and v >= 1:
        jvm, fs = _fs(spark, state_dir)
        old = jvm.org.apache.hadoop.fs.Path(_sub(state_dir, f"v={v - 1}"))
        if fs.exists(old):
            fs.delete(old, True)


def batch_vs_history(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate a new batch against the persisted history WITHOUT
    touching historical text: ``is_new_text`` (fingerprint not in the
    historical set — the incremental exact-dedup verdict) and
    ``novel_token_ratio`` (fraction of the document's tokens absent from
    the historical vocabulary — an out-of-distribution signal).

    Shape: one left join on 64-bit hashes + one token-level left join
    against the vocab frame reduced to its token column; both state
    sides prune to one column and broadcast when small (AQE decides).
    """
    from ..operators.split import _check_reserved

    _check_reserved(
        batch,
        {"fp", "_seen", "token", "_known", "novel_token_ratio",
         "is_new_text"},
        "batch_vs_history",
    )
    state = read_state(spark, state_dir)
    if state is None:
        raise ValueError(
            f"batch_vs_history: no state at {state_dir!r} — run "
            "update_corpus_state first"
        )
    fp = state.fingerprints.withColumn("_seen", F.lit(True))
    flagged = batch.withColumn("fp", doc_fingerprint(text_col)).join(
        fp, "fp", "left"
    )
    # token novelty: explode batch tokens, anti-join the vocab
    toks = batch.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("token")
    )
    known = state.vocab.select("token").withColumn("_known", F.lit(True))
    novelty = (
        toks.join(known, "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_nt"),
            F.sum(F.when(F.col("_known").isNull(), 1).otherwise(0)).alias(
                "_nov"
            ),
        )
        .select(
            id_col,
            F.round(F.col("_nov") / F.col("_nt"), DIGITS).alias(
                "novel_token_ratio"
            ),
        )
    )
    return (
        flagged.join(novelty, id_col, "left")
        .select(
            *[c for c in batch.columns],
            F.col("_seen").isNull().alias("is_new_text"),
            F.coalesce("novel_token_ratio", F.lit(0.0)).alias(
                "novel_token_ratio"
            ),
        )
    )


def history_summary(spark: SparkSession, state_dir: str) -> DataFrame:
    """Corpus-level statistics straight off the state — no corpus scan:
    per group (docs, distinct-doc estimate, token-length quartiles) plus
    a ``__total__`` row from sketch UNION."""
    state = read_state(spark, state_dir)
    if state is None:
        raise ValueError(f"history_summary: no state at {state_dir!r}")
    per = state.sketches.select(
        "group",
        "n",
        F.hll_sketch_estimate("hll").alias("distinct_est"),
        *[
            F.round(
                F.kll_sketch_get_quantile_double("kll", F.lit(q)), DIGITS
            ).alias(f"len_q{q}")
            for q in (0.25, 0.5, 0.75)
        ],
    )
    total = state.sketches.agg(
        F.sum("n").alias("n"),
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("distinct_est"),
        _kll_merge_agg("kll").alias("_kll"),
    ).select(
        F.lit("__total__").alias("group"),
        "n",
        "distinct_est",
        *[
            F.round(
                F.kll_sketch_get_quantile_double("_kll", F.lit(q)), DIGITS
            ).alias(f"len_q{q}")
            for q in (0.25, 0.5, 0.75)
        ],
    )
    return per.unionByName(total).orderBy("group")


def stream_update_corpus_state(
    stream: DataFrame,
    state_dir: str,
    *,
    checkpoint_path: str,
    text_col: str = "text",
    group_col: str = "source",
    trigger_available_now: bool = False,
):
    """Maintain the corpus state FROM A STREAM: every micro-batch folds
    into the persisted fingerprint/vocab/sketch state via the same
    :func:`update_corpus_state` the batch path uses — the foreachBatch
    pattern (streaming/route.py), so batch and stream share one fold
    implementation and the batch path is the offline rehearsal.

    Semantics note (inherited from update_corpus_state and the
    foreachBatch at-least-once contract): a REPLAYED micro-batch
    double-counts vocab/sketch state; fingerprints are set-semantics and
    replay-safe. Where replays matter, key the stream by batch id
    upstream or accept approximate counts — the sketches are estimates
    by design. Returns the started ``StreamingQuery``.
    """
    if not stream.isStreaming:
        raise ValueError(
            "stream_update_corpus_state: input is a batch frame — call "
            "update_corpus_state directly"
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_corpus_state(
            batch_df.sparkSession, state_dir, batch_df,
            text_col=text_col, group_col=group_col,
        )

    writer = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
