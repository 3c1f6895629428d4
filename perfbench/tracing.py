"""Spans around the engine's public calls, installed from outside.

Each wrapper records a span (name, layer, start, end, parent, thread, run
id) and tags the Spark jobs launched inside it by setting the thread's
``spark.job.description`` to ``perfbench:<span id>``; the crawler owns
``spark.jobGroup.id``, so the description is the free channel. Spans stay
in memory until the run ends.

The engine is lazy: a layer's Spark work lands in the span of the eager
call that forces it. That is why ``expand`` (extract, classify, dedup and
the seen anti-join) is one layer here.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

DESC = "spark.job.description"
PREFIX = "perfbench:"


class Span:
    __slots__ = ("id", "layer", "name", "start", "end", "parent", "thread", "run")

    def __init__(self, id, layer, name, start, parent, thread, run):
        self.id, self.layer, self.name = id, layer, name
        self.start, self.end = start, None
        self.parent, self.thread, self.run = parent, thread, run

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.observed: dict[str, float] = {}
        self.run = None
        # spans use perf_counter; Spark job times are epoch milliseconds
        self.epoch = time.time() - time.perf_counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, layer: str, name: str, fn, observe=None):
        """Wrap ``fn``; ``observe(tracer, args, kwargs, result)`` may add
        layer counters from the call's arguments and result."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            with self._lock:
                sp = Span(
                    next(self._ids),
                    layer,
                    name,
                    time.perf_counter(),
                    stack[-1].id if stack else None,
                    threading.current_thread().name,
                    self.run,
                )
                self.spans.append(sp)
            prev = self.sc.getLocalProperty(DESC)
            self.sc.setLocalProperty(DESC, f"{PREFIX}{sp.id}")
            stack.append(sp)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                self.sc.setLocalProperty(DESC, prev)
                sp.end = time.perf_counter()
            if observe is not None:
                with self._lock:
                    observe(self, args, kwargs, result)
            return result

        return wrapper

    def count(self, key: str, value: float) -> None:
        self.observed[key] = self.observed.get(key, 0) + value

    def patch(self, owner, attr: str, layer: str, observe=None) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.span(layer, f"{layer}.{attr}", original, observe))

    def install(self) -> "Tracer":
        """Wrap the public calls of every layer the crawl workloads use.

        Module-level names are patched where the crawler looks them up:
        ``plans.crawler`` imports ``admit_wave``, ``zip_with_order``,
        ``fetch_meta`` and ``apply_crawl_limit_cut`` at import time, and
        imports ``zip_with_order_bucketed`` from ``operators.order`` at
        call time. Snapshot commits run on the ``commit-pipeline`` thread,
        which carries no job group; their spans tag them, and the crawl
        thread's wait for them is the ``CommitPipeline.close`` span.
        """
        from cobweb_spark.operators import order
        from cobweb_spark.operators.filters import SeenFilterBank
        from cobweb_spark.plans import crawler, state

        self.patch(crawler.SparkCrawler, "__init__", "corpus")
        self.patch(crawler.SparkCrawler, "crawl", "crawler")
        # the whole-corpus link extraction and hoisted classification; it
        # runs between the constructor and the first wave-0 job
        self.patch(crawler.SparkCrawler, "_ensure_edges", "edges")
        self.patch(crawler, "admit_wave", "admit")
        self.patch(crawler, "zip_with_order", "admit", observe=_admitted)
        self.patch(crawler, "fetch_meta", "fetch")
        self.patch(crawler, "apply_crawl_limit_cut", "fetch")
        self.patch(order, "zip_with_order_bucketed", "expand", observe=_fresh)
        self.patch(SeenFilterBank, "add", "filters")
        self.patch(SeenFilterBank, "mark_probable", "filters")
        for attr in (
            "commit_wave", "commit_parts", "append_wave_metrics", "commit_finished"
        ):
            self.patch(state.SnapshotStore, attr, "state")
        self.patch(state.CommitPipeline, "close", "state")
        return self

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def _admitted(tracer, args, kwargs, result) -> None:
    tracer.count("admit.admitted", result[1])
    tracer.count("admit.frontier", kwargs.get("size_hint") or 0)


def _fresh(tracer, args, kwargs, result) -> None:
    tracer.count("expand.fresh", result[1])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of one
    span can overlap when they run on other threads)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return {
        sp.id: (sp.end - sp.start)
        - covered([(k.start, k.end) for k in kids.get(sp.id, [])])
        for sp in spans
    }


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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
