"""Spans recorded around calls into the engine's layers.

`Tracer.install` replaces the names `plans.pipeline` resolves at call
time with wrappers. Each wrapper records a span (name, start, end,
parent, the benchmark operation it ran under) and sets the Spark job
description to its own name while it runs, so the event log can
attribute every job to the innermost layer that submitted it.
`encode_stream` imports `run_encode` from `plans.pipeline` when it is
called, so micro-batches are traced too. Spans stay in memory."""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field

from json_to_parquet_spark.plans import pipeline

TRACED = ("collect_stats", "choose_codecs", "build_codec_plan",
          "choose_sort_order", "completed_chunks", "encode_chunks",
          "run_encode", "read_encoded", "decode_chunks")

DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _info(name: str, args: tuple, kwargs: dict, result) -> dict:
    """What a span keeps of its call: the sampled row count of pass 1,
    and the output dir and returned metrics of an encode run."""
    if name == "collect_stats" and result:
        return {"rows": next(iter(result.values()))["rows"]}
    if name == "run_encode":
        out_dir = args[2] if len(args) > 2 else kwargs["out_dir"]
        return {"out_dir": out_dir, "metrics": result}
    return {}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self.enabled = False
        self._local = threading.local()

    def install(self) -> None:
        """Wrap the traced names for the rest of the process."""
        for name in TRACED:
            setattr(pipeline, name, self._wrap(name, getattr(pipeline, name)))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            span = Span(name, time.time(), parent=stack[-1] if stack else None,
                        op=self.op)
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
            prev = self.sc.getLocalProperty(DESCRIPTION)
            self.sc.setJobDescription(name)
            try:
                result = fn(*args, **kwargs)
                span.info = _info(name, args, kwargs, result)
                return result
            finally:
                self.sc.setJobDescription(prev)
                stack.pop()
                span.end = time.time()
        return traced
