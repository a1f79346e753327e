"""In-memory spans for the traced run.

A span records its name, start, end (epoch seconds) and parent span id. Spans
are kept in a list and written out once, when the run ends. An operation span
also tags the Spark jobs it starts (``spark.addTag``), so the event-log
reader can hang Spark job and stage spans under it.

An untraced run uses ``Tracer(None)``: it records nothing and tags nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Iterator

TAG_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    @contextmanager
    def span(self, name: str, parent: str | None = None, tag: bool = False) -> Iterator[str | None]:
        """Record a span; with ``tag`` the Spark jobs started inside carry
        the tag ``perfbench-<span id>``."""
        if not self.enabled:
            yield None
            return
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        if tag:
            self.spark.addTag(TAG_PREFIX + sid)
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if tag:
                self.spark.removeTag(TAG_PREFIX + sid)

    def get(self, sid: str) -> dict:
        return self.spans[int(sid[1:])]
