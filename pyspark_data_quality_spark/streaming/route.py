"""Streaming quarantine routing: DQ rules applied per micro-batch with
valid rows flowing onward and failures quarantined with reasons.

Closes the streaming loop on the batch sink (sinks/quarantine.py): a
``foreachBatch`` writer runs the SAME declarative rules through the same
``DQManager`` fused pass on every micro-batch, so batch and stream share
one rule definition and one classification plan — the batch path is the
offline rehearsal of the stream. ``foreachBatch`` (rather than two
filtered ``writeStream`` sinks) because Structured Streaming would
otherwise run the source once PER SINK; here each micro-batch goes
through the batch sink's own writer, which classifies it ONCE into an
eagerly checkpointed annotated frame and writes both sides as filters
of it — one source pass and one rule evaluation per micro-batch. The
checkpoint cuts lineage: a lost executor fails the micro-batch and
stops the query with the exception (``foreachBatch`` does not retry);
the micro-batch is replayed from the source only when the query is
restarted from its checkpoint. A failure between the valid and the
invalid write leaves that micro-batch half routed, and the replay
appends its valid rows a second time.

Exactly-once caveat (documented, standard): ``foreachBatch`` gives
at-least-once file writes on retry; downstream readers of the quarantine
should dedup on a batch id if replays matter — ``batch_id_col`` records
it on every row for exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..manager import DQManager
from ..sinks.quarantine import _route_classified


def stream_quarantine_route(
    stream: DataFrame,
    rules: list,
    base_path: str,
    *,
    checkpoint_path: str,
    batch_id_col: str = "_batch_id",
    dataset: str = "",
    trigger_available_now: bool = False,
):
    """Start a streaming query that routes ``stream`` through ``rules``:
    passing rows append to ``<base>/valid``, failing rows (with
    ``failed_rules`` reasons and ``batch_id_col``) to ``<base>/invalid``.
    Returns the started ``StreamingQuery`` (call ``awaitTermination`` /
    ``stop`` yourself).
    """
    if not stream.isStreaming:
        raise ValueError(
            "stream_quarantine_route: input is a batch frame — use "
            "sinks.quarantine.quarantine_route"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        mgr = DQManager(batch_df.sparkSession, dataset=dataset, run_id=str(batch_id))
        mgr.set_data(batch_df)
        for r in rules:
            mgr.add_rule(r)
        _route_classified(
            mgr.run(),
            base_path,
            mode="append",
            extra={batch_id_col: F.lit(batch_id)},
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
