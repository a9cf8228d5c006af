"""In-memory spans for the traced run.

Spans are recorded from the benchmark's own files, around its calls into
the engine, plus timing wrappers it installs over a few public functions of
the package (``sources.tables.load_table`` and the KV / webhook sinks as
the revalidation job calls them).  The package's files are not changed.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "sales_telegram_bot_data_pipeline_spark"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span per call."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(attr, layer):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, original))

    def install(self) -> None:
        """Time the package's table loads and sink writes."""
        from sales_telegram_bot_data_pipeline_spark.sources import tables
        from sales_telegram_bot_data_pipeline_spark.streaming import revalidate

        load_table = tables.load_table
        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and getattr(mod, "load_table", None) is load_table:
                self.wrap(mod, "load_table", "sources")
        self.wrap(revalidate, "write_kv_upsert", "sinks.kv")
        self.wrap(revalidate, "send_notifications", "sinks.webhook")

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._restore):
            setattr(module, attr, original)
        self._restore.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)
