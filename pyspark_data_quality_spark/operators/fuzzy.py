"""Edit-distance self-join (fuzzy matching) with q-gram prefix blocking.

The entity-resolution primitive: all pairs of short strings (names,
titles, SKUs) within Levenshtein distance ``k`` — without the O(n²)
comparison the naive form implies.

Exactness argument (the blocking loses NO true pair):

- One edit operation changes at most ``q`` of a string's (non-positional,
  substring multiset) q-grams, so ``dist(a,b) <= k`` implies the DISTINCT
  gram sets share ``|D_max| - q*k`` or more grams (Gravano et al.,
  VLDB'01 count filter).
- Prefix filter: order every gram set by GLOBAL gram frequency (rarest
  first; one corpus-wide gram-count agg defines the order). If two sets
  must share at least ``T = |D_max| - q*k`` grams, then their first
  ``q*k + 1`` grams in that order must intersect — so each string posts
  only its ``q*k + 1`` rarest grams to the join index, and hot grams
  (shared prefixes like "Customer#") never form join buckets.
- Strings with ``q*k`` or fewer distinct grams can satisfy the count
  bound with zero shared grams; that short tail pairs among itself via a
  bounded crossJoin (they cannot pair with longer strings: the length
  filter ``|len_a - len_b| <= k`` already excludes those).

Candidates then verify with the real ``levenshtein(a, b, k)`` (the
threshold form short-circuits the DP row scan) — output is exactly the
true pair set.

Scale shape: two shuffles over gram rows (global frequency agg, join of
rank-filtered index entries) + one over candidate pairs. The index
carries ``q*k + 1`` grams per string regardless of string length; the
strings ride along as payloads, which is the right trade for the short
strings this operator targets (document-scale near-dup belongs to
MinHash/SimHash in operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _raw_grams(col, q: int):
    """Distinct substring q-grams of the column AS IS — no normalization:
    the count-filter theorem needs grams of exactly the string that
    levenshtein verifies (functions.text.char_ngrams normalizes
    whitespace, which would divorce the two)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(col) - F.lit(q - 1)),
        lambda i: F.substring(col, i, F.lit(q)),
    )
    return F.array_distinct(
        F.when(F.length(col) >= q, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_distance: int = 1,
    q: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """All pairs with ``levenshtein <= max_distance`` (exact result,
    blocked plan). Output: (id_a, id_b, distance), id_a < id_b.
    """
    if max_distance < 0:
        raise ValueError("fuzzy_match_pairs: max_distance must be >= 0")
    if q < 1:
        raise ValueError("fuzzy_match_pairs: q must be >= 1")
    k = max_distance
    prefix = q * k + 1

    s_expr = F.col(text_col)
    if lowercase:
        s_expr = F.lower(s_expr)
    base = (
        df.select(F.col(id_col).alias("_id"), s_expr.alias("_s"))
        .filter(F.col("_s").isNotNull())
        .withColumn("_len", F.length("_s"))
        .withColumn("_grams", _raw_grams(F.col("_s"), q))
        .withColumn("_ng", F.size("_grams"))
    )

    grams = base.select("_id", "_s", "_len", "_ng", F.explode("_grams").alias("_g"))
    # global frequency order; ties broken by the gram itself so the rank
    # is total and both sides of a pair agree on it
    freq = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_f"))
    from ..plans.cache import pin

    # persisted: the prefix frame self-joins (both sides of the candidate
    # join read it) — without the cache the gram explode + frequency join
    # + rank window execute once per join side; <= prefix rows per id
    ranked = pin(
        grams.join(freq, "_g")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.col("_f"), F.col("_g"))
            ),
        )
        .filter(F.col("_rn") <= prefix)
        .select("_id", "_s", "_len", "_g")
    )

    a, b = ranked.alias("a"), ranked.alias("b")
    gram_cands = (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a._len") - F.col("b._len")) <= k),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._s").alias("_sa"),
            F.col("b._s").alias("_sb"),
        )
        .distinct()
    )

    # persisted for the same reason: the short-string fallback self-joins
    shorts = pin(
        base.filter(F.col("_ng") <= q * k).select("_id", "_s", "_len")
    )
    sa, sb = shorts.alias("sa"), shorts.alias("sb")
    short_cands = (
        sa.join(
            sb,
            (F.col("sa._id") < F.col("sb._id"))
            & (F.abs(F.col("sa._len") - F.col("sb._len")) <= k),
        )
        .select(
            F.col("sa._id").alias("id_a"),
            F.col("sb._id").alias("id_b"),
            F.col("sa._s").alias("_sa"),
            F.col("sb._s").alias("_sb"),
        )
    )

    cands = gram_cands.unionByName(short_cands).dropDuplicates(["id_a", "id_b"])
    dist = F.levenshtein(F.col("_sa"), F.col("_sb"), k)
    return (
        cands.withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= k))
        .select("id_a", "id_b", "distance")
    )
