"""Traced runs: spans recorded around the public entry points of each
layer, from outside the package.

``Tracer.install`` replaces module attributes with wrappers for the
run's lifetime and ``Tracer.uninstall`` puts them back.  Each span gets
its own Spark job group, set on the calling thread and restored on
exit, so after the run ``statusTracker().getJobIdsForGroup`` gives the
jobs each span launched itself.  py4j round-trips are counted by
wrapping the gateway client's ``send_command``; calls the tracer makes
for its own bookkeeping are counted apart.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import statistics
import threading
import time

# (module, attribute, span name).  The name's prefix is the layer.
WRAPPED = (
    ("dogsheep_beta_spark.indexer", "run_indexer", "indexer.run_indexer"),
    ("dogsheep_beta_spark.operators.fts_index", "build_fts_index", "fts.build_fts_index"),
    ("dogsheep_beta_spark.operators.fts_index", "write_fts_index", "fts.write_fts_index"),
    ("perfbench.harness", "load_index", "fts.load_index"),
    ("dogsheep_beta_spark.server", "load_live_snapshot", "server.load_live_snapshot"),
    ("dogsheep_beta_spark.page", "beta_page", "page.beta_page"),
    ("dogsheep_beta_spark.page", "page_context", "page.page_context"),
    ("dogsheep_beta_spark.page", "build_page_facets", "page.build_page_facets"),
    ("dogsheep_beta_spark.page", "render_page", "page.render_page"),
    ("dogsheep_beta_spark.page", "process_results", "presentation.process_results"),
    ("dogsheep_beta_spark.plans.search", "search_query", "search.search_query"),
    ("dogsheep_beta_spark.plans.search", "compile_match", "match.compile_match"),
    ("dogsheep_beta_spark.operators.facets", "filtered_count", "facets.filtered_count"),
    ("dogsheep_beta_spark.plans.hydrate", "hydrate_results", "hydrate.hydrate_results"),
    (
        "dogsheep_beta_spark.streaming.incremental",
        "merge_fts_batch",
        "incremental.merge_fts_batch",
    ),
)
REQUEST_SPAN = "server.request"


class Span:
    __slots__ = ("id", "name", "parent", "rid", "start", "end", "py4j", "group", "jobs", "own")

    def __init__(self, sid, name, parent, rid):
        self.id, self.name, self.parent, self.rid = sid, name, parent, rid
        self.start = self.end = 0.0
        self.py4j = 0
        self.jobs = 0
        self.own = 0.0  # seconds of tracer bookkeeping in this span's tree (root only)
        self.group = f"perfbench-span-{sid}"

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__ if k != "group"}


class Tracer:
    """Spans and counters of one traced run, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.client = self.sc._gateway._gateway_client
        self.spans: list[Span] = []
        self.phrase_calls = 0
        self.phrase_hits = 0
        self.own_py4j = 0
        self.unattributed_py4j = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _own(self, fn, *args):
        """Run a py4j call on the tracer's own account."""
        self._local.own = True
        try:
            return fn(*args)
        finally:
            self._local.own = False

    def call(self, name: str, fn, args=(), kwargs=None, rid=None):
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        span = Span(next(self._ids), name, parent.id if parent else None,
                    rid if rid is not None else (parent.rid if parent else None))
        root = st[0] if st else span
        self._own(self.sc.setJobGroup, span.group, name)
        st.append(span)
        span.start = time.perf_counter()
        root.own += span.start - t0
        try:
            return fn(*args, **(kwargs or {}))
        finally:
            span.end = time.perf_counter()
            st.pop()
            if parent is not None:
                self._own(self.sc.setJobGroup, parent.group, parent.name)
            else:
                self._own(self.sc._jsc.clearJobGroup)
            with self._lock:
                self.spans.append(span)
            root.own += time.perf_counter() - span.end

    # -- installation -----------------------------------------------------
    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), span_name))

        from dogsheep_beta_spark.operators.fts_index import FtsIndex

        orig_hits = FtsIndex.cached_phrase_hits
        tracer = self

        def cached_phrase_hits(fts, key, builder):
            with tracer._lock:
                tracer.phrase_calls += 1
                tracer.phrase_hits += key in fts.hit_caches
            return orig_hits(fts, key, builder)

        self._patch(FtsIndex, "cached_phrase_hits", cached_phrase_hits)

        orig_send = self.client.send_command

        def send_command(*args, **kwargs):
            st = self._stack()
            if st and not getattr(self._local, "own", False):
                st[-1].py4j += 1  # a span belongs to one thread
            else:
                with self._lock:
                    if getattr(self._local, "own", False):
                        self.own_py4j += 1
                    else:
                        self.unattributed_py4j += 1
            return orig_send(*args, **kwargs)

        self._patch(self.client, "send_command", send_command)

    def instrument_server(self, srv) -> None:
        """Open the root span of each request in the handler thread,
        keyed by the client's ``X-Request-Id`` header."""
        cls = srv.RequestHandlerClass
        orig = cls.do_GET
        tracer = self

        def do_GET(handler):  # noqa: N802 (stdlib naming)
            rid = handler.headers.get("X-Request-Id")
            return tracer.call(REQUEST_SPAN, orig, (handler,), rid=rid)

        self._patch(cls, "do_GET", do_GET)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def collect_jobs(self) -> None:
        """Attribute jobs to spans once the listener bus has drained."""
        self._own(self.sc._jsc.sc().listenerBus().waitUntilEmpty, 30_000)
        tracker = self.sc._jsc.sc().statusTracker()
        for s in self.spans:
            s.jobs = len(self._own(tracker.getJobIdsForGroup, s.group))

    def storage(self) -> tuple[int, float]:
        """(cached RDDs, their memory + disk MB) from getRDDStorageInfo."""
        infos = self._own(self.sc._jsc.sc().getRDDStorageInfo)
        n, size = 0, 0
        for info in infos:
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size / 2**20

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.as_dict()) + "\n")


# -- report -----------------------------------------------------------------


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (children
    of one span run on its thread, so they do not overlap)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - covered.get(s.id, 0.0) for s in spans}


def per_request(spans, rids, name, value) -> tuple[list[float], int]:
    """Per request: the sum of ``value(span)`` over its spans named
    ``name``; requests without such a span are left out.  Also returns
    the span count."""
    sums: dict[str, float] = {}
    n = 0
    for s in spans:
        if s.name == name and s.rid in rids:
            sums[s.rid] = sums.get(s.rid, 0.0) + value(s)
            n += 1
    return list(sums.values()), n


def layer_report(tracer: Tracer, latencies: dict[str, float], storage: tuple[int, float],
                 merge_mb: list[float]):
    """Per-layer metrics as (layer, name, unit, (median, span count)):
    medians per measured request, or per set-up for the build spans.
    ``latencies`` maps each measured request id to its client latency;
    ``storage`` is ``Tracer.storage()`` taken at the end of the window;
    ``merge_mb`` the megabytes each merge published."""
    spans = tracer.spans
    selfs = self_times(spans)
    rids = set(latencies)
    ms = lambda s: (s.end - s.start) * 1e3  # noqa: E731
    secs = lambda s: s.end - s.start  # noqa: E731
    jobs = lambda s: s.jobs  # noqa: E731
    self_ms = lambda s: selfs[s.id] * 1e3  # noqa: E731

    def med(name, value):
        vals, n = per_request(spans, rids, name, value)
        return _median(vals), n

    by_setup: dict[str, list[Span]] = {}
    for s in spans:
        if s.rid is None and s.parent is None:
            by_setup.setdefault(s.name, []).append(s)

    def setup_med(name, value):
        vals = [value(s) for s in by_setup.get(name, [])]
        return _median(vals), len(vals)

    beta = {}
    for s in spans:
        if s.name == "page.beta_page" and s.rid in rids:
            beta[s.rid] = beta.get(s.rid, 0.0) + ms(s)
    overhead = [latencies[r] * 1e3 - beta[r] for r in beta]

    req_jobs: dict[str, float] = {}
    req_py4j: dict[str, float] = {}
    for s in spans:
        if s.rid in rids:
            req_jobs[s.rid] = req_jobs.get(s.rid, 0) + s.jobs
            req_py4j[s.rid] = req_py4j.get(s.rid, 0) + s.py4j

    merge = [s for s in spans if s.name == "incremental.merge_fts_batch"]
    cached_rdds, cached_mb = storage
    py4j_tot = _total(spans, "py4j")
    jobs_tot = _total(spans, "jobs")

    rows = [
        # layer, metric, unit, (value, span count)
        ("server", "server.overhead_ms", "ms", (_median(overhead), len(overhead))),
        ("server", "server.snapshot_ms", "ms", med("server.load_live_snapshot", ms)),
        ("server", "server.snapshot_jobs", "count", med("server.load_live_snapshot", jobs)),
        ("page", "page.results_ms", "ms", med("page.page_context", self_ms)),
        ("page", "page.facets_ms", "ms", med("page.build_page_facets", ms)),
        ("page", "page.facets_jobs", "count", med("page.build_page_facets", jobs)),
        ("page", "page.render_ms", "ms", med("page.render_page", ms)),
        ("plans.search", "search.construct_ms", "ms", med("search.search_query", ms)),
        ("plans.search", "search.construct_py4j", "count", med("search.search_query", py4j_tot)),
        ("plans.match", "match.compile_ms", "ms", med("match.compile_match", ms)),
        ("plans.match", "match.compile_py4j", "count", med("match.compile_match", py4j_tot)),
        ("operators.facets", "facets.count_ms", "ms", med("facets.filtered_count", ms)),
        ("operators.facets", "facets.count_jobs", "count", med("facets.filtered_count", jobs)),
        ("operators.fts_index", "fts.hit_ratio", "ratio",
         (tracer.phrase_hits / tracer.phrase_calls if tracer.phrase_calls else 0.0, tracer.phrase_calls)),
        ("operators.fts_index", "fts.build_s", "s", setup_med("fts.build_fts_index", secs)),
        ("operators.fts_index", "fts.write_s", "s", setup_med("fts.write_fts_index", secs)),
        ("operators.fts_index", "fts.load_s", "s", setup_med("fts.load_index", secs)),
        ("indexer", "indexer.run_s", "s", setup_med("indexer.run_indexer", secs)),
        ("indexer", "indexer.jobs", "count", setup_med("indexer.run_indexer", jobs_tot)),
        ("plans.hydrate", "hydrate.ms", "ms", med("hydrate.hydrate_results", ms)),
        ("plans.hydrate", "hydrate.jobs", "count", med("hydrate.hydrate_results", jobs)),
        ("presentation", "presentation.ms", "ms", med("presentation.process_results", ms)),
        ("streaming.incremental", "incremental.merge_s", "s",
         (_median([secs(s) for s in merge]), len(merge))),
        ("streaming.incremental", "incremental.merge_jobs", "count",
         (_median([jobs_tot(s) for s in merge]), len(merge))),
        ("streaming.incremental", "incremental.bytes_written_mb", "MB",
         (_median(merge_mb), len(merge_mb))),
        ("spark", "request.jobs", "count", (_median(list(req_jobs.values())), len(req_jobs))),
        ("spark", "request.py4j", "count", (_median(list(req_py4j.values())), len(req_py4j))),
        ("spark", "storage.cached_rdds", "count", (cached_rdds, 1)),
        ("spark", "storage.cached_mb", "MB", (cached_mb, 1)),
        ("trace", "trace.own_ms", "ms", med(REQUEST_SPAN, lambda s: s.own * 1e3)),
    ]
    return rows


def _total(spans, attr):
    """Value function: a span's ``attr`` (jobs, py4j) including its
    descendants'."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def total(s):
        return getattr(s, attr) + sum(total(c) for c in kids.get(s.id, ()))

    return total


def self_table(tracer: Tracer, rids) -> list[tuple]:
    """(span name, count, median ms, median self ms, median jobs, median
    py4j) per span name, over the spans of measured requests."""
    selfs = self_times(tracer.spans)
    groups: dict[str, list[Span]] = {}
    for s in tracer.spans:
        if s.rid in rids:
            groups.setdefault(s.name, []).append(s)
    out = []
    for name, ss in sorted(groups.items()):
        out.append(
            (
                name,
                len(ss),
                _median([(s.end - s.start) * 1e3 for s in ss]),
                _median([selfs[s.id] * 1e3 for s in ss]),
                _median([s.jobs for s in ss]),
                _median([s.py4j for s in ss]),
            )
        )
    return out
