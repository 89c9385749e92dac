"""One benchmark run: set-up, the measured closed loop, the output check
and the metrics.

Both workloads are closed loops over the same seeded corpus:

- ``search_novel``: one client sends MATCH searches in which no term,
  phrase or prefix repeats, to the static server (``make_server``), in
  whole passes over the search kinds (and so over the filters too)
  until the window ends.
- ``ingest_live``: one loop alternates a ``merge_fts_batch`` of 1,000
  events docs into the live server's layout (``make_live_server``) with
  reads: the marker-term search, then ``READS_PER_MERGE`` seeded Zipf
  draws over 18 timeline shapes.  ``WARMUP_MERGES`` cycles go before
  the window, untimed; then cycles run whole until the window has
  lasted its seconds, and at least ``MIN_MERGES`` of them.

Set-up is timed the way a user meets it: the session start, the index
build of a fresh process (``cli index``), then the server set-up
(``cli serve``: load, persist, bind, one warm-up request).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from perfbench import harness, reqgen
from perfbench.corpus import TYPE_EVENTS, Corpus

INGEST_BATCH = 1_000
INGEST_UPDATE_SHARE = 0.3
# Cycles before the window, untimed: a session's first merge takes
# about 1.5 times as long as the next, and the reads of the first cycle
# spread about twice as much from run to run as those of the second.
WARMUP_MERGES = 1
# Measured merge cycles a run makes at least; the batches of all
# merges, each updating keys no other touched.
MIN_MERGES = 2
INGEST_MAX_BATCHES = 4
# Reads after each measured merge: the marker search, which also loads
# the new generation's snapshot, then this many timeline pages.  The
# marker search costs about three timeline pages, so with more
# timeline pages than marker searches the median read is a timeline
# page that loads no snapshot.
READS_PER_MERGE = 3
MAX_FAILURES_SHOWN = 25
# search_novel requests generated per run, more than a window sends
NOVEL_PLAN = 96
# The events rule's output shape, which merge_fts_batch conforms.
BATCH_SCHEMA = (
    "key string, title string, timestamp string, category int, "
    "is_public int, search_1 string"
)


class Log:
    """Outcome of every operation of a run."""

    def __init__(self):
        # every read and merge is checked; only the measured ones are timed
        self.reads: list[dict] = []
        self.merges: list[dict] = []
        self.merges_failed = 0
        self.failures: list[str] = []
        self.t0 = self.cpu0 = None

    def start(self) -> None:
        """Mark the start of the measured window."""
        self.t0, self.cpu0 = time.perf_counter(), harness.cpu_times()

    def read(self, req, rid, status, body, latency, batches_done, measured=True):
        self.reads.append({
            "measured": measured,
            "req": req,
            "rid": rid,
            "status": status,
            "count": harness.page_count(body) if status == 200 else None,
            "error": None if status == 200 else body[:200],
            "latency": latency,
            "batches": batches_done,
        })


def _setup(spark, out, serve, on_server):
    """Build the index, then set the server up, ended by one warm-up
    request (the unfiltered timeline page).  Returns (served, build
    seconds, server set-up seconds)."""
    build_s = harness.build_index(spark, out)
    t0 = time.perf_counter()
    served = serve(spark, out)
    on_server(served.srv)
    status, body, _ = harness.fetch(served.port, "/-/beta", "warmup")
    if status != 200:
        served.close()
        raise RuntimeError(f"warm-up request failed with {status}: {body[:200]}")
    return served, build_s, time.perf_counter() - t0


def closed_loop(port, plan, deadline, log: Log, tag: str, batches_done=0, stride=1,
                measured=True) -> None:
    """One client sends the requests of ``plan`` back to back, in whole
    strides of ``stride`` requests, until ``deadline`` has passed; with
    no deadline, all of them."""
    for i, req in enumerate(plan):
        if i % stride == 0 and deadline is not None and time.perf_counter() >= deadline:
            return
        rid = f"{tag}r{i}"
        status, body, lat = harness.fetch(port, req["path"], rid)
        log.read(req, rid, status, body, lat, batches_done, measured)


def _ingest_plan(corpus, seed) -> list[list[dict]]:
    """Reads after each merge: the marker search, then seeded Zipf
    draws over the timeline shapes."""
    shapes = reqgen.timeline_shapes(corpus, seed)
    per = READS_PER_MERGE
    stream = reqgen.zipf_stream(shapes, INGEST_MAX_BATCHES * per, seed)
    marker = reqgen.marker_request()
    return [
        [marker, *stream[b * per : (b + 1) * per]]
        for b in range(INGEST_MAX_BATCHES)
    ]


def _ingest_live(spark, served, out, plan, seconds, log: Log, batches) -> None:
    """``WARMUP_MERGES`` untimed cycles, then the measured ones."""
    from dogsheep_beta_spark.streaming import incremental

    index_path = os.path.join(out, "search_index")
    fts_path = os.path.join(out, "fts")
    targets = (index_path, os.path.join(fts_path, "postings"), os.path.join(fts_path, "doc_lengths"))
    for b in range(INGEST_MAX_BATCHES):
        measured = b >= WARMUP_MERGES
        if b == WARMUP_MERGES:
            log.start()
        elif b >= WARMUP_MERGES + MIN_MERGES and time.perf_counter() >= log.t0 + seconds:
            break
        m0 = time.perf_counter()
        try:
            incremental.merge_fts_batch(
                spark, spark.createDataFrame(batches[b], BATCH_SCHEMA), b,
                index_path, fts_path, TYPE_EVENTS, mode="portable", stem=False,
            )
        except Exception as e:  # noqa: BLE001 (a failed merge is a failed operation)
            # the layout's state is unknown after it, so no read can be checked
            log.merges_failed += 1
            log.failures.append(f"merge {b}: {type(e).__name__}: {e}")
            break
        log.merges.append(
            {
                "measured": measured,
                "s": time.perf_counter() - m0,
                "docs": len(batches[b]),
                "text_bytes": sum(len(r["title"]) + len(r["search_1"]) for r in batches[b]),
                "written": sum(harness.dir_bytes(p) for p in targets),
            }
        )
        closed_loop(served.port, plan[b], None, log, f"b{b}", batches_done=b + 1,
                    measured=measured)
    if log.t0 is None:  # a warm-up merge failed
        log.start()


def _check(log: Log, oracle, live: bool) -> None:
    """Every read must be a 200 page whose count matches the oracle;
    on ingest_live the marker search must count every ingested doc."""
    marker = reqgen.marker_request()["match"]
    for r in log.reads:
        req = r["req"]
        if r["status"] != 200:
            log.failures.append(f"{req['path']} -> status {r['status']}: {r['error']}")
            continue
        if live and req["match"] == marker:
            want = r["batches"] * INGEST_BATCH
        else:
            want = oracle.expected(req, r["batches"])
        if r["count"] != want:
            log.failures.append(
                f"{req['path']} after {r['batches']} batches -> count {r['count']}, expected {want}"
            )


def _pct(xs, p) -> float:
    return float(np.percentile(xs, p)) if xs else 0.0


def _tail(lat_ms) -> str:
    """The highest percentile with at least 10 samples beyond it, which
    needs more than 20 samples; a run of a few requests has none."""
    n = len(lat_ms)
    if n <= 20:
        return f"n/a ({n} samples; a tail needs more than 20)"
    p = 100 * (1 - 10 / n)
    return f"p{p:.0f} = {_pct(lat_ms, p):.4f} ms ({n} samples)"


def run(args, work: str, t_process: float) -> dict:
    settings = harness.session_settings()
    spark = harness.start_session(settings, os.path.join(work, "spark"))
    try:
        m = _measure(args, work, spark, t_process)
    finally:
        harness.stop_session(spark)
    return _report(args, settings, m)


def _measure(args, work, spark, t_process) -> dict:
    """Set up, run the workload's window and check the responses."""
    m: dict = {"session_s": time.perf_counter() - t_process}
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    corpus = m["corpus"] = Corpus(args.seed)
    sources = os.path.join(work, "sources")
    corpus.write(sources)
    t0 = time.perf_counter()
    harness.register_sources(spark, sources)
    m["session_s"] += time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install()
    on_server = tracer.instrument_server if tracer else (lambda srv: None)

    live = args.workload == "ingest_live"
    out = os.path.join(work, "index")
    log = m["log"] = Log()
    batches = None
    if live:
        batches = corpus.ingest_batches(INGEST_MAX_BATCHES, INGEST_BATCH, INGEST_UPDATE_SHARE)
        cycles = _ingest_plan(corpus, args.seed)
        m["plan"] = [r for c in cycles for r in c]
        served, m["build_s"], m["serve_s"] = _setup(spark, out, harness.serve_live, on_server)
        _ingest_live(spark, served, out, cycles, args.seconds, log, batches)
    else:
        plan = m["plan"] = reqgen.novel_searches(corpus, args.seed, NOVEL_PLAN)
        served, m["build_s"], m["serve_s"] = _setup(spark, out, harness.serve_static, on_server)
        log.start()
        closed_loop(served.port, plan, log.t0 + args.seconds, log, "",
                    stride=len(reqgen.NOVEL_KINDS))
    m["window"] = time.perf_counter() - log.t0
    m["steal"] = harness.steal_share(log.cpu0, harness.cpu_times())
    storage = tracer.storage() if tracer is not None else None
    served.close()
    m["rss"] = harness.peak_rss_mb(pids)

    m["layers"] = None
    if tracer is not None:
        from perfbench import trace

        tracer.collect_jobs()
        tracer.uninstall()
        lat = {r["rid"]: r["latency"] for r in log.reads if r["measured"]}
        m["layers"] = trace.layer_report(
            tracer, lat, storage, [x["written"] / 2**20 for x in log.merges])
        m["self_rows"] = trace.self_table(tracer, set(lat))
        m["tracer_py4j"] = (tracer.own_py4j, tracer.unattributed_py4j)
        span_dir = os.path.join(os.getcwd(), ".perfbench", "spans")
        os.makedirs(span_dir, exist_ok=True)
        tracer.write(os.path.join(span_dir, f"{args.workload}-seed{args.seed}.jsonl"))

    from perfbench.oracle import CountOracle

    oracle = CountOracle(sources)
    try:
        if live:
            oracle.add_batches(batches[: len(log.merges)])
        _check(log, oracle, live)
    finally:
        oracle.close()
    return m


def _report(args, settings, m) -> dict:
    """Print the human-readable report; return the result line."""
    log, live = m["log"], args.workload == "ingest_live"
    session_s, build_s, serve_s, window = m["session_s"], m["build_s"], m["serve_s"], m["window"]
    lat_ms = [r["latency"] * 1e3 for r in log.reads if r["measured"]]
    n_ops = len(log.reads) + len(log.merges) + log.merges_failed
    failed = len(log.failures)
    e2e = {
        "setup_s": (session_s + build_s + serve_s, "s"),
        "index_build_s": (build_s, "s"),
        "p50_ms": (_pct(lat_ms, 50), "ms"),
        "throughput_rps": (len(lat_ms) / window, "req/s"),
        "peak_rss_mb": (m["rss"], "MB"),
    }
    extra = {"error_rate": (failed / n_ops if n_ops else 1.0, "ratio")}
    merges = [x for x in log.merges if x["measured"]]
    if live and merges:
        secs = sum(x["s"] for x in merges)
        extra["ingest_batch_p50_s"] = (statistics.median(x["s"] for x in merges), "s")
        extra["ingest_docs_per_s"] = (sum(x["docs"] for x in merges) / secs, "docs/s")
        extra["write_amp"] = (
            sum(x["written"] for x in merges) / sum(x["text_bytes"] for x in merges), "ratio")

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"requests digest {reqgen.digest(m['plan'])}  "
          f"sent digest {reqgen.digest([r['req'] for r in log.reads])}  "
          f"corpus docs {m['corpus'].n_docs}")
    print("session " + " ".join(f"{k}={v}" for k, v in settings.items()))
    print(f"samples reads={len(lat_ms)} merges={len(merges)} window_s={window:.3f} "
          f"session_s={session_s:.3f} build_s={build_s:.3f} "
          f"serve_s={serve_s:.3f} cpu_steal_share={m['steal']:.3f}")
    print(f"untimed warm-up merges={len(log.merges) - len(merges)} "
          f"reads={len(log.reads) - len(lat_ms)}")
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"  {name:<22} {v:12.4f} {unit}")
    print(f"  {'tail_ms':<22} {_tail(lat_ms)}")
    print(f"latencies_ms {json.dumps([round(x, 3) for x in lat_ms])}")
    layer_rows = m["layers"]
    if layer_rows is not None:
        print(f"{'layer':<22} {'metric':<24} {'median':>12} {'spans':>6}")
        for layer, name, unit, (v, n) in layer_rows:
            print(f"{layer:<22} {name:<24} {v:12.3f} {n:6d} {unit}")
        print(f"{'span':<34} {'n':>5} {'ms':>9} {'self_ms':>9} {'jobs':>5} {'py4j':>6}")
        for name, n, d, s, j, p in m["self_rows"]:
            print(f"{name:<34} {n:5d} {d:9.2f} {s:9.2f} {j:5.0f} {p:6.0f}")
        own, outside = m["tracer_py4j"]
        print(f"tracer py4j calls: own={own} outside spans={outside}")
    for f in log.failures[:MAX_FAILURES_SHOWN]:
        print(f"FAILED {f}")
    if failed > MAX_FAILURES_SHOWN:
        print(f"FAILED ... and {failed - MAX_FAILURES_SHOWN} more")

    if layer_rows is not None:
        metrics = {name: {"value": v, "unit": unit} for _, name, unit, (v, _) in layer_rows}
        metrics["trace.request_p50_ms"] = {"value": _pct(lat_ms, 50), "unit": "ms"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": failed == 0, "attempted": max(n_ops, 1), "failed": failed, "metrics": metrics}
