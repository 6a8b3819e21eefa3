"""In-memory spans around the benchmark's calls into each layer.

A span is ``{id, parent, op, name, start, end}`` with epoch-second times, so
Spark jobs (whose submission and completion times the status store records
in epoch milliseconds) attach as child spans on the same clock. The layer of
a span is its name up to the first dot (``result.metrics`` -> ``result``).
"""

from __future__ import annotations

import contextlib
import json
import time

#: Layers that self time is reported for, in a fixed order so every
#: workload reports the same metric names.
LAYERS = ("op", "source", "manager", "result", "catalyst", "spark", "sinks", "curation")

# Spark records job times in whole milliseconds; a job may appear to start up
# to one tick before the span that submitted it.
_CLOCK_SLACK = 0.002


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "op": self.op, "name": name,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def attach_jobs(self, root: dict, jobs: list[dict]) -> None:
        """Add each job as a child of the innermost span of ``root``'s
        operation that was open when it was submitted, clamped into that
        span's interval."""
        candidates = [s for s in self.spans if s["op"] == root["op"]]
        for job in jobs:
            if job["start"] is None or job["end"] is None:
                continue
            holders = [
                s for s in candidates
                if s["start"] - _CLOCK_SLACK <= job["start"] <= s["end"] + _CLOCK_SLACK
            ]
            parent = max(holders, key=lambda s: s["start"]) if holders else root
            start = min(max(job["start"], parent["start"]), parent["end"])
            end = min(max(job["end"], start), parent["end"])
            self.spans.append({
                "id": len(self.spans), "parent": parent["id"], "op": root["op"],
                "name": "spark.job", "start": start, "end": end,
                "job": job["id"], "stages": len(job["stages"]),
            })

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": self.spans}, f)


def null_span(name: str):
    """Stand-in for ``Tracer.span`` when tracing is off."""
    return contextlib.nullcontext()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds of its interval not covered by its children."""
    from .sparkstats import union_length

    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def layer_self_ms(spans: list[dict], op: int) -> dict[str, float]:
    """Self time per layer for one operation, in ms."""
    own = [s for s in spans if s["op"] == op]
    selfs = self_times(own)
    out = {layer: 0.0 for layer in LAYERS}
    for s in own:
        layer = s["name"].split(".", 1)[0]
        if layer in out:
            out[layer] += 1000.0 * selfs[s["id"]]
    return out


def nesting_violations(spans: list[dict]) -> list[int]:
    """Ids of spans whose interval is not inside their parent's."""
    by_id = {s["id"]: s for s in spans}
    return [
        s["id"] for s in spans
        if s["parent"] is not None
        and not (by_id[s["parent"]]["start"] <= s["start"] <= s["end"] <= by_id[s["parent"]]["end"])
    ]
