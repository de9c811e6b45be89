"""Healthy-window bench watcher (r04 pattern, automated).

The box has documented day-long ~1.5-1.9x host-tenancy-degraded epochs
that are invisible to container loadavg. This watcher probes host
capability (the same 1M-URL local[8] scheduling round BENCH.md's r04
watcher used; healthy ~1.5 s) every ~10 minutes and, the first time the
probe comes back healthy, runs `python bench.py` once and appends both
readings to ``.bench_watch/bench_watch.jsonl`` (gitignored) so the
round can record a steady-state suite number that measures the code
instead of the neighbours.

Run: python scripts/bench_watch.py [max_iters] [healthy_s]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LOG_DIR = os.path.join(ROOT, ".bench_watch")
LOG = os.path.join(LOG_DIR, "bench_watch.jsonl")


def probe() -> float:
    """Best-of-3 1M-URL local[8] round seconds in a fresh JVM."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from crawler_spark.session import get_spark\n"
        "from crawler_spark.frontier.bench_round import "
        "frontier_round_throughput\n"
        "spark = get_spark(app_name='bench_watch_probe', cores=8)\n"
        "best = min(frontier_round_throughput(spark, scale=0.05)[1] "
        "for _ in range(3))\n"
        "print('PROBE_BEST', best)\n" % ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=600, cwd=ROOT,
    ).stdout
    for line in out.splitlines():
        if line.startswith("PROBE_BEST"):
            return float(line.split()[1])
    return float("inf")


def main() -> None:
    max_iters = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    healthy_s = float(sys.argv[2]) if len(sys.argv) > 2 else 1.8
    for i in range(max_iters):
        t = time.time()
        p = probe()
        rec = {"ts": round(t, 1), "iter": i, "probe_best_s": round(p, 3),
               "healthy_cut_s": healthy_s}
        healthy = p <= healthy_s
        if healthy:
            bench = subprocess.run(
                [sys.executable, "bench.py"], capture_output=True,
                text=True, timeout=900, cwd=ROOT,
            ).stdout.strip().splitlines()
            rec["bench"] = json.loads(bench[-1]) if bench else None
        os.makedirs(LOG_DIR, exist_ok=True)
        with open(LOG, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        if healthy:
            return
        time.sleep(600)
    print("no healthy window found", flush=True)


if __name__ == "__main__":
    main()
