"""Session, set-up and HTTP client pieces shared by the workloads.

Set-up follows the product's own paths: ``cli index`` (``run_indexer``
then ``build_fts_index`` then ``write_fts_index``) and ``cli serve``
(``read_fts_index``, persist index/postings/doc_lengths, then
``make_server``), or ``cli serve --live`` (``make_live_server``).
Functions are looked up on their modules at call time, so a traced run
sees the wrappers it installed.
"""

from __future__ import annotations

import http.client
import os
import re
import shutil
import threading
import time

import dogsheep_beta_spark.indexer as indexer
import dogsheep_beta_spark.operators.fts_index as fts_index
import dogsheep_beta_spark.server as server
from dogsheep_beta_spark.sources.registry import register_testdata

from perfbench.corpus import RULES

# A normal request takes a few seconds; a hung one fails after this,
# well inside the time of one run.
REQUEST_TIMEOUT_S = 60
_COUNT_RE = re.compile(r"Got ([0-9,]+) results?")


def session_settings() -> dict:
    """Spark settings sized from the host: one local task slot and one
    shuffle partition per CPU, and a driver heap of an eighth of RAM,
    held between 1 and 4 GiB."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    heap_mb = min(4096, max(1024, mem_kb // 1024 // 8))
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(settings: dict, local_dir: str):
    """The session, with every file Spark and its JVM write kept under
    ``local_dir``."""
    from pyspark.sql import SparkSession

    os.makedirs(local_dir, exist_ok=True)
    b = SparkSession.builder.appName("perfbench")
    for k, v in settings.items():
        b = b.config(k, v)
    b = b.config("spark.local.dir", local_dir)
    b = b.config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
    b = b.config(
        "spark.driver.extraJavaOptions",
        f"-Djava.io.tmpdir={local_dir} -Dderby.system.home={local_dir} -XX:-UsePerfData",
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM pyspark launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def register_sources(spark, sources_dir: str) -> None:
    register_testdata(spark, sources_dir, tables=("documents", "events", "orders"))


def build_index(spark, out_dir: str) -> float:
    """``cli index OUT CONFIG --tokenize none``: the index and its FTS
    tables written under ``out_dir``.  Returns the wall time."""
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    df = indexer.run_indexer(spark, RULES, os.path.join(out_dir, "search_index"))
    fts = fts_index.build_fts_index(df, mode="portable", stem=False)
    fts_index.write_fts_index(fts, os.path.join(out_dir, "fts"))
    elapsed = time.perf_counter() - t0
    fts.postings.unpersist()
    fts.doc_lengths.unpersist()
    return elapsed


def load_index(spark, out_dir: str):
    """``cli serve``'s load: read the index and FTS tables, persist and
    materialise all three before the first request."""
    index_df = spark.read.parquet(os.path.join(out_dir, "search_index")).persist()
    index_df.count()
    fts = fts_index.read_fts_index(spark, os.path.join(out_dir, "fts"))
    fts.postings = fts.postings.persist()
    fts.postings.count()
    fts.doc_lengths = fts.doc_lengths.persist()
    fts.doc_lengths.count()
    return index_df, fts


class Served:
    """A bound server answering on a background thread."""

    def __init__(self, srv, release=()):
        self.srv = srv
        self.port = srv.server_address[1]
        self._release = list(release)
        self._thread = threading.Thread(target=srv.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self._thread.join(timeout=30)
        for df in self._release:
            df.unpersist()


def serve_static(spark, out_dir: str) -> Served:
    index_df, fts = load_index(spark, out_dir)
    srv = server.make_server(spark, index_df, fts, RULES, port=0)
    return Served(srv, release=(index_df, fts.postings, fts.doc_lengths))


def serve_live(spark, out_dir: str) -> Served:
    srv = server.make_live_server(
        spark,
        os.path.join(out_dir, "search_index"),
        os.path.join(out_dir, "fts"),
        RULES,
        port=0,
        mode="portable",
        stem=False,
    )
    return Served(srv)


def fetch(port: int, path: str, request_id: str) -> tuple[int, str, float]:
    """One GET; returns (status, body, seconds).  A timeout or a broken
    connection is status 0."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("GET", path, headers={"X-Request-Id": request_id})
        resp = conn.getresponse()
        body = resp.read().decode("utf-8", "replace")
        status = resp.status
    except (OSError, http.client.HTTPException) as e:
        status, body = 0, f"{type(e).__name__}: {e}"
    finally:
        conn.close()
    return status, body, time.perf_counter() - t0


def page_count(html: str) -> int | None:
    """The ``Got N results`` figure of a rendered page, or None."""
    m = _COUNT_RE.search(html)
    return int(m.group(1).replace(",", "")) if m else None


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (symlinks resolved once)."""
    total = 0
    for root, _, files in os.walk(os.path.realpath(path)):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took away between two readings:
    a noisy-neighbour gauge printed beside the results."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if len(d) > 7 and sum(d[:8]) else 0.0


def peak_rss_mb(pids) -> float:
    """Sum of the kernel's peak resident set (VmHWM) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024
