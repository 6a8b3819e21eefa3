"""Funnel conversion over event sequences — the standard product /
pipeline-health question ("of the users who VIEWED, how many CLICKED,
then SIGNED UP, then PURCHASED — in that order?") as per-step joins,
no sessionization UDFs, no per-user event collection.

Semantics (the greedy unordered-funnel convention every analytics
store uses): a user's step-1 time is their EARLIEST step-1 event; each
later step's time is the earliest matching event STRICTLY AFTER the
previous step's time; ``horizon_seconds`` (optional) additionally
requires every step to land within that window of the user's step-1
time. Greedy earliest-match maximizes conversion under the
strictly-increasing constraint for two steps and is the fixed,
engine-reproducible convention here (documented, oracle-replayed).

Scale shape: step k is ONE equi-join on the user key (previous
survivors ⋈ step-k events) + ONE min-aggregation — k-1 joins total for
a k-step funnel, every shuffle keyed by the same user column so the
exchanges reuse partitioning; survivors shrink monotonically. No
arrays of per-user timestamps are ever collected (the collect_list
funnel breaks on hot users; this shape doesn't care how many events
one user has).

Reference parity: no event-sequence surface in the reference (rule
framework only); training-data extension surface alongside
sequence_gaps / session windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

__all__ = ["event_transitions", "funnel", "funnel_users", "sessionize"]


def funnel_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    *,
    horizon_seconds: int | None = None,
    segment_col: str | None = None,
) -> DataFrame:
    """Per-user funnel timestamps: one row per user who completed step 1,
    with ``step_1_ts .. step_k_ts`` (NULL from the first step the user
    never reached — once NULL, all later steps are NULL by
    construction). Feed this to :func:`funnel` for the summary, or join
    it back to user dimensions for segment-level conversion.

    ``segment_col`` carries a ``segment`` column through: the value on
    the user's step-1 ANCHOR event (their earliest step-1 row, via
    min_by) — "which campaign/platform/cohort did this journey start
    on", the attribution convention. Use it with :func:`funnel`'s
    ``segment_col`` for per-segment conversion tables.
    """
    if len(steps) < 2:
        raise ValueError("funnel_users: need at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel_users: steps must be distinct")
    if horizon_seconds is not None and horizon_seconds <= 0:
        raise ValueError("funnel_users: horizon_seconds must be > 0")
    if segment_col is not None and segment_col not in df.columns:
        raise ValueError(f"funnel_users: column {segment_col!r} not in df")
    u, ts, ev = F.col(user_col), F.col(ts_col), F.col(event_col)

    # NULL timestamps can't anchor or advance a funnel: without this
    # filter a user whose only step-1 events have NULL ts would emit a
    # step_1_ts=NULL 'entrant' row, breaking the one-row-per-completer
    # contract (and the summary/oracle denominators)
    step1_aggs = [F.min(ts).alias("step_1_ts")]
    if segment_col is not None:
        # struct-min, not min_by: two step-1 events at the SAME earliest
        # ts would make min_by's pick nondeterministic across runs; the
        # struct ordering breaks the tie on the segment value itself
        step1_aggs.append(
            F.min(F.struct(ts.alias("t"), F.col(segment_col).alias("s")))
            .getField("s")
            .alias("segment")
        )
    cur = (
        df.filter((ev == steps[0]) & ts.isNotNull())
        .groupBy(user_col)
        .agg(*step1_aggs)
    )
    carry = ["segment"] if segment_col is not None else []
    for k, step in enumerate(steps[1:], start=2):
        nxt = df.filter(ev == step).select(u.alias(user_col), ts.alias("_ts"))
        cond = F.col("_ts") > F.col(f"step_{k - 1}_ts")
        if horizon_seconds is not None:
            cond = cond & (
                F.col("_ts")
                <= F.col("step_1_ts")
                + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
            )
        prev_cols = carry + [f"step_{j}_ts" for j in range(1, k)]
        # ONE left join per step, referencing `cur` once: stalled users
        # keep a row with NULL step_k_ts via min(when(cond, ts)) — a
        # reached-then-join-back shape would reference `cur` twice,
        # doubling the logical plan every step (2^(k-1) copies of the
        # base aggregate by step k)
        cur = (
            cur.join(nxt, user_col, "left")
            .groupBy(user_col, *prev_cols)
            .agg(F.min(F.when(cond, F.col("_ts"))).alias(f"step_{k}_ts"))
        )
    return cur


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    *,
    horizon_seconds: int | None = None,
    segment_col: str | None = None,
) -> DataFrame:
    """Funnel summary: one row per step with ``step_index``,
    ``step_name``, ``n_users`` (users reaching the step in order),
    ``conversion_from_start`` (vs step 1) and ``conversion_from_prev``
    — the two drop-off readings every funnel chart shows. Deterministic
    (pure min-aggregations; no sampling, no order ties by construction
    since each user's step time is a MIN).

    ``segment_col`` adds a leading ``segment`` column and one summary
    row per (segment, step): users are attributed to the segment of
    their step-1 anchor event, and every rate is WITHIN the segment —
    the per-campaign/per-platform conversion table.
    """
    users = funnel_users(
        df, user_col, ts_col, event_col, steps,
        horizon_seconds=horizon_seconds, segment_col=segment_col,
    )
    step_counts = [
        F.count(F.col(f"step_{k}_ts")).alias(f"_n{k}")
        for k in range(1, len(steps) + 1)
    ]
    counts = (
        users.groupBy("segment").agg(*step_counts)
        if segment_col is not None
        else users.agg(*step_counts)
    )
    # melt the per-(segment) counts row with ONE explode projection — a
    # union of per-step selects would replay the whole funnel plan k
    # times. Typed literals (not an interpolated stack() SQL string):
    # step names are data, and data never belongs inside a parsed
    # expression — a name containing a quote or backslash must not be
    # able to corrupt the plan
    rows = F.array(*[
        F.struct(
            F.lit(k).alias("step_index"),
            F.lit(name).alias("step_name"),
            F.col(f"_n{k}").alias("_n"),
            F.col(f"_n{k - 1}" if k > 1 else "_n1").alias("_prev"),
            F.col("_n1").alias("_start"),
        )
        for k, name in enumerate(steps, start=1)
    ])
    lead = ["segment"] if segment_col is not None else []
    stacked = counts.select(
        *lead, F.explode(rows).alias("_step")
    ).select(*lead, "_step.*")
    return stacked.select(
        *lead,
        "step_index",
        "step_name",
        F.col("_n").cast("bigint").alias("n_users"),
        F.round(F.try_divide(F.col("_n"), F.col("_start")), DIGITS).alias(
            "conversion_from_start"
        ),
        F.round(F.try_divide(F.col("_n"), F.col("_prev")), DIGITS).alias(
            "conversion_from_prev"
        ),
    ).orderBy(*lead, "step_index")


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    id_col: str | None = None,
    include_terminal: bool = False,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for every observed (from_state, to_state) pair, the
    transition count and the row-normalized probability
    P(next = to | current = from) — the "what do users do after an
    error?" / journey-drop-off reading, and the baseline model for
    sequence-anomaly scoring.

    Each key's events sort by ``ts`` (plus ``id_col`` as a total-order
    tiebreaker when provided — equal-timestamp rows otherwise get an
    unspecified relative order, same contract as interval_overlaps);
    ``lead(state)`` pairs each event with its successor. A key's last
    event has no successor and is dropped, unless
    ``include_terminal=True`` keeps it as a transition to the sentinel
    ``__end__`` (making each row of the matrix a proper distribution
    over next-states including "stopped").

    NULL states are excluded from the sequence BEFORE the lag — a NULL
    is not a state, and leaving it in would make ``lead()``'s NULL
    ambiguous between "sequence ended" and "next state unknown"
    (mislabeling mid-sequence rows as ``__end__``). So (a, NULL, b)
    yields the transition a→b; audit NULL-state volume separately with
    a completeness rule.

    Scale shape: one shuffle keyed by ``key_col`` for the lag window
    (per-key linear scan — hot keys shard no worse than the raw event
    count), then one (from, to) hash aggregation whose output is at
    most |states|² rows; the probability normalization windows over
    THAT matrix, not the events. No arrays, no per-key collection.

    Reference parity: no sequence surface in the reference rule
    framework; extension alongside funnel / sequence_gaps.
    """
    from pyspark.sql.window import Window

    for c in ("from_state", "to_state", "n_transitions", "prob"):
        if c in df.columns:
            raise ValueError(
                f"event_transitions: output column {c!r} already exists "
                "on df; rename it first"
            )
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    nxt = F.lead(state_col).over(
        Window.partitionBy(key_col).orderBy(*order)
    )
    pairs = df.filter(F.col(state_col).isNotNull()).select(
        F.col(state_col).alias("from_state"), nxt.alias("to_state")
    )
    if include_terminal:
        pairs = pairs.withColumn(
            "to_state", F.coalesce("to_state", F.lit("__end__"))
        )
    else:
        pairs = pairs.filter(F.col("to_state").isNotNull())
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = F.sum("n_transitions").over(
        Window.partitionBy("from_state")
    )
    return counts.withColumn(
        "prob",
        F.round(F.try_divide(F.col("n_transitions"), total), DIGITS),
    ).orderBy("from_state", "to_state")


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    gap_seconds: int,
    id_col: str | None = None,
) -> DataFrame:
    """Gap-based batch sessionization: assign each event a per-key
    ``session_id`` (1-based, in time order) that increments whenever
    the gap to the previous event exceeds ``gap_seconds`` — the batch
    twin of streaming session windows
    (streaming/windows.py session_counts), for when the corpus is
    already at rest and you want session ids ON the rows (to feed
    funnel / transitions / per-session aggregates).

    One key-partitioned window: lag for the gap test, running sum of
    session-start flags for the id — per-key linear scan, one shuffle,
    no arrays. Rows with NULL ``ts`` are excluded (a timestamp-less
    event belongs to no session; audit them with a completeness rule).
    ``id_col`` pins the order among equal timestamps, same contract as
    :func:`event_transitions`.
    """
    from pyspark.sql.window import Window

    if gap_seconds <= 0:
        raise ValueError("sessionize: gap_seconds must be > 0")
    if "session_id" in df.columns:
        raise ValueError(
            "sessionize: output column 'session_id' already exists on "
            "df; rename it first"
        )
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sec = F.col(ts_col).cast("timestamp").cast("double")
    prev = F.lag(sec).over(w)
    starts = (
        prev.isNull() | ((sec - prev) > F.lit(float(gap_seconds)))
    ).cast("long")
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("session_id", F.sum(starts).over(run))
    )
