"""In-memory spans for the traced benchmark run.

Spans are opened only by the benchmark's own code, around calls into
the engine's public functions, so a span's name is the layer it enters
(``plans.pipeline.run_pipeline``, ``sources.checkpoint.done_chunks``,
...). Each span records name, start, end, parent and the run id; they
stay in memory and are written once, when the run ends.

Self time of a span is its duration minus the part of it that its child
spans cover. All spans open and close on the benchmark's main thread,
so children never overlap and that part is simply the sum of the
children's durations.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[dict]]:
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def summary(self) -> Dict[str, dict]:
        """Per span name: count, total seconds and self seconds."""
        child_s: Dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_s[s["id"]]
        return out

    def names(self) -> set:
        return {s["name"] for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "summary": self.summary()},
                fh,
                indent=1,
            )
