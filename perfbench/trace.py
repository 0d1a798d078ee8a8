"""In-memory spans recorded around calls into the package's public API.

A span is a dict ``{id, name, start, end, parent, op}``; times are
``time.monotonic()`` seconds, which on Linux is one clock for every
process, so a launcher process's spans line up with its parent's.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self.op = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = {"id": next(self._ids), "name": name, "op": self.op,
              "parent": self._stack[-1] if self._stack else None,
              "start": time.monotonic(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.monotonic()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public calls the workloads make, and the
    parquet reader and writer and ``DataFrame.collect`` that run their
    plans, in spans named after the layer they time."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from outliertree_spark import CheckpointLedger, SparkOutlierTree
    from outliertree_spark.operators import checks
    for owner, attr, name in (
            (DataFrameReader, "parquet", "input.open"),
            (SparkOutlierTree, "validate", "engine.validate_build"),
            (SparkOutlierTree, "predict", "engine.predict_build"),
            (checks, "snapshot_diff", "checks.snapshot_diff"),
            (CheckpointLedger, "record_verdicts", "ledger.record"),
            (DataFrameWriter, "parquet", "sink.write"),
            (DataFrame, "collect", "collect")):
        tracer.wrap(owner, attr, name)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_cover(spans: list[dict], parent: dict) -> float:
    """Seconds of ``parent``'s interval covered by its direct children
    (clipped to the parent, overlaps counted once)."""
    ps, pe = parent["start"], parent["end"]
    return _union_length(
        (max(c["start"], ps), min(c["end"], pe)) for c in spans
        if c["parent"] == parent["id"] and c["end"] is not None
        and min(c["end"], pe) > max(c["start"], ps))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    return {s["id"]: (s["end"] - s["start"]) - children_cover(spans, s)
            for s in spans if s["end"] is not None}


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        if s["id"] in st:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def coverage(spans: list[dict], root: dict) -> float:
    """Share of ``root``'s wall time covered by its direct children."""
    dur = root["end"] - root["start"]
    return children_cover(spans, root) / dur if dur > 0 else 0.0


def total(spans: list[dict], name: str, op=None,
          parent: str | None = None) -> float:
    """Summed duration of the spans called ``name`` (of op ``op``, and
    whose parent span is called ``parent``, when those are given)."""
    names = {s["id"]: s["name"] for s in spans}
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == name and s["end"] is not None
               and (op is None or s["op"] == op)
               and (parent is None or names.get(s["parent"]) == parent))
