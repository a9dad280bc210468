"""In-memory spans, written to JSONL when the run ends.

A span records a name, start and end (seconds since the tracer started),
its parent span, the operation it belongs to, and free-form attributes
(self time, counters). Spans are recorded from the benchmark's own files
around calls into the engine's public functions.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int, parent: int | None = None, **attrs):
        """Record one span; yields its attribute dict for the body to fill."""
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent, "start": time.perf_counter() - self.t0,
               "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
