"""Spans around calls into the engine's layers, recorded from outside it.

A span times one call in this process and, for its duration, labels every
Spark job the calling thread submits (local property ``perfbench.span``
plus the job description), so the event log can attribute executor time
to the span.  Labels are per thread: jobs that ``run_crawl`` submits from
its own worker threads outside any span stay unlabelled, and the event-log
reader reports them as their own bucket.

The crawl's layers are reached by rebinding the names ``plans.crawl``
imported, for the duration of one traced run, and by handing ``run_crawl``
a ``Catalog`` subclass; no engine source is edited.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from no_fasel_scrapers_spark.plans import crawl as crawl_plan
from no_fasel_scrapers_spark.sources.catalog import Catalog

from eventlog import SPAN_PROP

# layer → the names plans.crawl imports from that layer
CRAWL_LAYERS = {
    "frontier": ("take_wave", "dedup_within", "expand_pagination_df"),
    "robots": ("apply_robots",),
    "seen_filter": (
        "dedup_against_seen", "build_filter_blobs", "merge_filter_blobs",
    ),
    "politeness": ("schedule_fetches", "politeness_metrics"),
}


class Tracer:
    """Span wall times (ms) and call counts, keyed by label."""

    def __init__(self, sc):
        self.sc = sc
        self._lock = threading.Lock()
        self.ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    @contextmanager
    def span(self, label: str):
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, label)
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = (time.perf_counter() - t0) * 1000
            self.sc.setLocalProperty(SPAN_PROP, prev)
            self.sc.setJobDescription(prev)
            with self._lock:
                self.ms[label] += dt
                self.calls[label] += 1

    def wrap(self, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def crawl_layers(self):
        """Rebind the layer functions ``plans.crawl`` calls to traced ones."""
        saved = {}
        try:
            for label, names in CRAWL_LAYERS.items():
                for name in names:
                    saved[name] = getattr(crawl_plan, name)
                    setattr(crawl_plan, name, self.wrap(label, saved[name]))
            yield
        finally:
            for name, fn in saved.items():
                setattr(crawl_plan, name, fn)


class TracingCatalog(Catalog):
    """``Catalog`` whose writes and reads are spans: ``catalog.write.<table>``
    and ``catalog.read``."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def write(self, df, name, *args, **kwargs):
        with self.tracer.span(f"catalog.write.{name}"):
            return super().write(df, name, *args, **kwargs)

    def read(self, *args, **kwargs):
        with self.tracer.span("catalog.read"):
            return super().read(*args, **kwargs)

    def read_union(self, *args, **kwargs):
        with self.tracer.span("catalog.read"):
            return super().read_union(*args, **kwargs)

    def read_log(self, *args, **kwargs):
        with self.tracer.span("catalog.read"):
            return super().read_log(*args, **kwargs)
