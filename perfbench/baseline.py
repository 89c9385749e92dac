"""Record a baseline: untraced runs over several seeds per workload plus
one traced run each, with medians, spreads, the pooled tail latency and
the tracing overhead.

    python3 perfbench/baseline.py --seeds 1-10 --seconds 15 --out perfbench/baseline/NAME.json

Runs are made one after another from the current directory, as the
benchmark's own command would be.  The spread of a metric is the
distance between the first and third quartile of its per-run values
(``statistics.quantiles(values, n=4)``) as a share of their median.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
from perfbench.run import WORKLOADS  # noqa: E402
_LINE = re.compile(r"^  (\S+)\s+(-?[0-9.]+) (\S+)$")


def seeds(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    report = {}
    latencies = []
    for line in lines[:-1]:
        m = _LINE.match(line)
        if m:
            report[m.group(1)] = float(m.group(2))
        if line.startswith("latencies_ms "):
            latencies = json.loads(line.split(" ", 1)[1])
    return {"seed": seed, "wall_s": wall, "result": result, "report": report,
            "latencies_ms": latencies,
            "failures": [x for x in lines if x.startswith("FAILED ")],
            "digests": next((x.split()[2:6:3] for x in lines if x.startswith("requests digest")), None)}


def spread(values: list[float]) -> float | None:
    if len(values) < 2:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else None


def summarise(runs: list[dict]) -> dict:
    keys = sorted({k for r in runs for k in r["report"]})
    out = {}
    for k in keys:
        vals = [r["report"][k] for r in runs if k in r["report"]]
        out[k] = {"median": statistics.median(vals), "spread": spread(vals), "values": vals}
    pooled = sorted(x for r in runs for x in r["latencies_ms"])
    n = len(pooled)
    if n > 20:
        p = 100 * (1 - 10 / n)
        out["pooled_tail_ms"] = {
            "percentile": round(p, 1),
            "value": statistics.quantiles(pooled, n=1000)[int(p * 10) - 1],
            "samples": n,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    record = {"seconds": args.seconds, "workloads": {}}
    for wl in WORKLOADS:
        runs = []
        for sd in seeds(args.seeds):
            r = one_run(wl, sd, args.seconds, 0)
            runs.append(r)
            print(wl, sd, f"{r['wall_s']:.1f}s", json.dumps(r["result"]["metrics"]), flush=True)
        traced = one_run(wl, seeds(args.seeds)[0], args.seconds, 1)
        summary = summarise(runs)
        traced_p50 = traced["result"]["metrics"]["trace.request_p50_ms"]["value"]
        record["workloads"][wl] = {
            "summary": summary,
            # one traced run against the median of the untraced ones: an
            # estimate within the runs' own spread, not a measurement below it
            "tracing_overhead_ms": traced_p50 - summary["p50_ms"]["median"],
            "runs": runs,
            "traced": traced,
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    for wl, rec in record["workloads"].items():
        print(f"== {wl}  tracing overhead (traced p50 minus untraced median): "
              f"{rec['tracing_overhead_ms']:.1f} ms")
        for k, v in rec["summary"].items():
            print(f"  {k:<22} {json.dumps({kk: vv for kk, vv in v.items() if kk != 'values'})}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
