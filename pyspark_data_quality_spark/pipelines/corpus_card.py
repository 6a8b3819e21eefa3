"""Corpus card: the one-page data card for a document corpus.

Teams publish a "data card" with every corpus release — volume, quality,
duplication, language mix, vocabulary — and re-derive it ad hoc each
time. This composes the existing operators into ONE long-format frame
(the corpus-level sibling of pipelines/segment_health.py):

    (section string, metric string, value double, text_value string)

- volume:      n_docs, total_tokens, avg_tokens, p50_tokens, empty_share,
               null_text_share
- quality:     avg_quality, low_quality_share, avg_stopword_ratio,
               avg_punct_ratio, gopher_pass_share (static-rules gate)
- duplication: exact_dup_ratio (1 - distinct fingerprints / docs)
- language:    top-k predicted languages, one row per language with its
               share (metric = the language code)
- vocab:       approx_distinct_tokens (HLL over the exploded token
               stream, ~2% error — exact distinct over a 100 TB corpus'
               vocabulary is a full extra shuffle for a card number)

Scale shape: ONE text_profile pass feeds everything (pinned across
the three consumers exactly like pipelines/curation.py — without it the
mapInPandas profile re-runs per consumer); the volume/quality/
duplication numbers are a single fused aggregate (countDistinct rides
the same agg), language mix is one bounded groupBy, vocab one
explode+HLL aggregate. Every output frame is tiny; the union is k small
frames, not a scan pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS
from ..functions.text import gopher_pass as _gopher_pass


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_langs: int = 5,
    low_quality_threshold: float = 0.75,
    exact_vocab: bool = False,
) -> DataFrame:
    """One long-format corpus card; see module docstring for sections.

    ``exact_vocab=True`` swaps the vocab section's HLL sketch for an
    EXACT distinct count (metric renamed ``distinct_tokens``) — the
    certification face (the DuckDB oracle can replay an exact count,
    not a sketch). Default stays approximate: an exact distinct over a
    100 TB corpus' vocabulary is a full extra shuffle for a card
    number whose consumers tolerate ~2% error.

    The profiled frame is pinned until ``spark.catalog.clearCache()``
    (plans/cache.py contract)."""
    from ..operators.text import text_profile
    from ..plans.cache import pin

    profiled = pin(text_profile(df, text_col))

    def long_rows(entries: list) -> DataFrame:
        # reshape ONE aggregate over every (section, metric, expr) into
        # long-format rows — a single agg subtree, so the profiled frame
        # is scanned once for all scalar card numbers (three per-section
        # aggregates previously tripled the pass, belying the module
        # docstring's "single fused aggregate")
        agg = profiled.agg(
            *[expr.alias(f"_m_{i}") for i, (_, _, expr) in enumerate(entries)]
        )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(section).alias("section"),
                            F.lit(name).alias("metric"),
                            F.col(f"_m_{i}").cast("double").alias("value"),
                        )
                        for i, (section, name, _) in enumerate(entries)
                    ]
                )
            ).alias("_r")
        ).select(
            "_r.section",
            "_r.metric",
            F.round("_r.value", DIGITS).alias("value"),
            F.lit(None).cast("string").alias("text_value"),
        )

    n = F.count(F.lit(1))
    fused = long_rows(
        [
            ("volume", "n_docs", n),
            ("volume", "total_tokens", F.sum("token_count")),
            ("volume", "avg_tokens", F.avg("token_count")),
            ("volume", "p50_tokens", F.median("token_count")),
            ("volume", "empty_share", F.avg(
                (F.coalesce(F.col("token_count"), F.lit(0)) == 0).cast(
                    "double"
                )
            )),
            ("volume", "null_text_share",
             F.avg(F.col(text_col).isNull().cast("double"))),
            ("quality", "avg_quality", F.avg("quality_score")),
            ("quality", "low_quality_share", F.avg(
                (F.col("quality_score") < low_quality_threshold).cast(
                    "double"
                )
            )),
            ("quality", "avg_stopword_ratio", F.avg("stopword_ratio")),
            ("quality", "avg_punct_ratio", F.avg("punct_ratio")),
            # Gopher static-rules gate (functions/text.py gopher_pass):
            # document-shape pass rate rides the same fused aggregate
            ("quality", "gopher_pass_share",
             F.avg(_gopher_pass(text_col).cast("double"))),
            # denominator = rows WITH a fingerprint: count_distinct
            # skips NULLs, so dividing by all rows would report every
            # null-text document as a duplicate (a 10%-null corpus of
            # fully distinct texts would read dup_ratio = 0.1)
            ("duplication", "exact_dup_ratio", F.lit(1.0)
             - F.try_divide(
                 F.count_distinct("fingerprint"),
                 F.count("fingerprint"),
             )),
        ]
    )

    langs = (
        profiled.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("lang_pred").asc_nulls_last())
        .limit(top_langs)
        .crossJoin(F.broadcast(profiled.agg(n.alias("_total"))))
        .select(
            F.lit("language").alias("section"),
            F.coalesce(F.col("lang_pred"), F.lit("unknown")).alias("metric"),
            F.round(F.col("_n") / F.col("_total"), DIGITS).alias("value"),
            F.col("lang_pred").alias("text_value"),
        )
    )

    from ..functions.text import tokenize

    distinct_agg = (
        F.count_distinct("_t") if exact_vocab
        else F.approx_count_distinct("_t")
    )
    vocab = (
        profiled.select(F.explode(tokenize(text_col)).alias("_t"))
        .agg(distinct_agg.alias("_v"))
        .select(
            F.lit("vocab").alias("section"),
            F.lit(
                "distinct_tokens" if exact_vocab
                else "approx_distinct_tokens"
            ).alias("metric"),
            F.col("_v").cast("double").alias("value"),
            F.lit(None).cast("string").alias("text_value"),
        )
    )

    return fused.unionByName(langs).unionByName(vocab).orderBy(
        "section", "metric"
    )
