"""Spans around the engine's public calls, for the traced run.

A span records name, start, end and parent. Each span runs its Spark jobs
under its own job group, so the event log attributes executor work to the
span that caused it (``eventlog.py``). Calls the CLI makes internally are
reached by wrapping the public functions in their modules for the
duration of the traced run; the engine's code is not changed.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time
from dataclasses import dataclass, field

# (module, function, span name); a callable name is applied to the call's
# arguments.
_WRAPPED = (
    ("json_validator_spark.session", "get_spark", "session.get_spark"),
    ("json_validator_spark.corpus", "corpus_ruleset", "rules.compile"),
    ("json_validator_spark.rules.schema_import", "ruleset_from_json_schema", "rules.compile"),
    ("json_validator_spark.sources.tables", "load_table", "sources.load_table"),
    ("json_validator_spark.sources.ingest", "load_jsonl", "sources.load_jsonl"),
    ("json_validator_spark.plans.pipeline", "validate_run", "pipeline.validate_run"),
    ("json_validator_spark.plans.checkpoint", "run_with_checkpoint", "checkpoint.run"),
    ("json_validator_spark.plans.checkpoint", "read_violations", "checkpoint.read"),
    (
        "json_validator_spark.sources.tables", "write_table",
        lambda df, path, *a, **k: "report." + os.path.basename(path.rstrip("/")),
    ),
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one Spark session, kept in memory until the run ends."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @staticmethod
    def group(span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setLocalProperty("spark.jobGroup.id", self.group(s.id))
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", prev)

    def subtree(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def self_time(self, s: Span) -> float:
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _wrap(tracer: Tracer, fn, name):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name(*args, **kwargs) if callable(name) else name):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's public calls in spans until the block exits."""
    saved = []
    try:
        for mod_name, attr, name in _WRAPPED:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, _wrap(tracer, getattr(mod, attr), name))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)
