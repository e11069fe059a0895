"""In-memory spans for the traced run.

A span records its name, start, end, parent and the run id; spans that
end with Spark work also carry the status-store totals of the jobs they
launched. Spans stay in memory and are written as JSON when the run
ends. A span's self time is its duration minus the time its children
cover (children never overlap: the benchmark runs one thing at a time).
"""

from __future__ import annotations

import contextlib
import json
import time

from sparkstats import StatusReader


class Tracer:
    def __init__(self, run_id: str, reader: StatusReader) -> None:
        self.run_id = run_id
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark_work: bool = False):
        """Open a span; with ``spark_work`` the span sets its own job
        group and records the jobs and stages it launched."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if spark_work:
            self.reader.take()  # stages so far belong to earlier spans
            self.reader.set_group(f"{self.run_id}/{sid}/{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            if spark_work:
                rec["spark"] = self.reader.take()
            self._stack.pop()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        kids = sum(self.duration(c["id"]) for c in self.spans if c["parent"] == sid)
        return self.duration(sid) - kids

    def write(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
