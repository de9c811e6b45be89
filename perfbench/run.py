"""The repository benchmark: one workload per call, driven in a closed
loop (one op in flight) at local[<all cores>].

    python3 perfbench/run.py --workload round --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``round``, ``deep_crawl``,
``curation``. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
alternates untraced and traced ops and prints the per-layer metrics. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is non-zero when any op output check or executed-plan
self-check fails.

Everything the run writes (Spark scratch, temp files, inputs, the crawl
store) goes under ``.perfbench_work/<pid>/`` at the root of the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one directory per run, so that runs never share or delete each other's
# files
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))


def _configure_env() -> None:
    """Keep every file the run writes inside the checkout and size the
    JVM for the machine. Must run before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    # session.py reads SPARK_GRAFT_LOCAL_DIR; Spark itself lets
    # SPARK_LOCAL_DIRS override spark.local.dir, so set both
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers (mapInPandas) import crawler_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf spark.ui.retainedJobs=5000",
        "--conf spark.ui.retainedStages=10000",
        # a fixed heap (-Xms = -Xmx) keeps the JVM's resident peak from
        # depending on when G1 decided to grow the heap
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{driver_mem()}'",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical RAM, at most 4g: get_spark's default (24g)
    is larger than many boxes."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // 4 // 2**20))}g"


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def fastest(ops) -> tuple[float, float]:
    """(wall time, items per second) of the fastest op. On a shared host
    other tenants only ever add time to an op, so the fastest of several
    ops is the steadiest estimate of the op's own cost; the median moves
    with the host's busy spells."""
    wall, items = min((o[0], o[1]) for o in ops)
    return wall, items / wall


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1])
    return 0


class Bench:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.work = WORK
        self.cores = cores()
        self.mem = driver_mem()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.untimed_s = 0.0  # restores and checks around the timed ops

    def start(self, n_cores: int) -> float:
        from crawler_spark.session import get_spark
        from spans import SparkProbe

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=n_cores,
                               driver_mem=self.mem)
        dt = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = SparkProbe(self.spark)
        return dt

    def run_ops(self, wl, seconds: float, min_ops: int, alternate: bool):
        """Closed loop: ops back to back until ``seconds`` have passed and
        at least ``min_ops`` ran. With ``alternate``, every second op is
        traced. Returns [(wall_s, items, traced, layer_metrics)]."""
        from spans import Tracer

        done = []
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or len(done) < min_ops:
            traced = alternate and i % 2 == 1
            i += 1
            self.tracer = Tracer(traced)
            self.attempted += 1
            try:
                t = time.perf_counter()
                wl.prepare()
                self.untimed_s += time.perf_counter() - t
                if traced:
                    self.probe.new_jobs()  # drop jobs of earlier checks
                    wl.trace_wraps(self.tracer)
                t = time.perf_counter()
                try:
                    with self.tracer.span("op") as root:
                        wl.op()
                finally:
                    wall = time.perf_counter() - t
                    self.tracer.unwrap()
                t = time.perf_counter()
                jobs = self.probe.new_jobs() if traced else []
                items = wl.verify()
                self.untimed_s += time.perf_counter() - t
            except Exception as e:  # an op that raises or fails its check
                traceback.print_exc()
                self.failed += 1
                self.errors.append(f"{type(e).__name__}: {e}")
                break
            layers = self.layer_metrics(wl, root, jobs, wall) if traced \
                else {}
            done.append((wall, items, traced, layers))
        return done

    def layer_metrics(self, wl, root, jobs, wall) -> dict[str, float]:
        from spans import attribute_jobs, job_totals, self_times

        spans = self.tracer.subtree(root)
        by_span = attribute_jobs(jobs, spans)
        own = self_times(spans)
        out: dict[str, float] = {}

        def add(k, v):
            out[k] = out.get(k, 0) + v

        timed = {"engine.run_round", "incremental.schedule",
                 "incremental.update_head", "store.commit", "store.read",
                 "curation.curation_e2e", "curation.image_curation_e2e"}
        for s in spans:
            name = s["name"]
            n_jobs = len(by_span[s["id"]])
            if name in timed:
                add(f"{name}.s", s["end"] - s["start"])
            if name in ("engine.run_round", "store.commit"):
                add(f"{name}.jobs", n_jobs)
            if name.startswith("incremental."):
                add("incremental.jobs", n_jobs)
        tot = job_totals(jobs)
        out.update({
            "spark.jobs": tot["jobs"],
            "spark.tasks": tot["tasks"],
            "spark.executor_run_s": tot["run_s"],
            "spark.executor_cpu_s": tot["cpu_s"],
            "spark.gc_s": tot["gc_s"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.busy_ratio": tot["run_s"] / (wall * self.cores),
            # op time inside no layer span: the op's own glue and the body
            # of run_crawl_checkpointed outside the wrapped calls
            "trace.unattributed_s": sum(
                own[s["id"]] for s in spans
                if s["name"] in ("op", "store.run_crawl_checkpointed")),
        })
        out.update(wl.layer_metrics(jobs))
        return out

    def scaling(self, wl) -> float:
        """items/s at local[cores] (this run's untraced ops) over cores x
        items/s at local[1] on the same input, in a new SparkContext."""
        from spans import Tracer

        ips_n = fastest([o for o in self.main_ops if not o[2]])[1]
        self.spark.stop()
        self.start(1)
        wl.spark = self.spark
        self.tracer = Tracer(False)
        wl.op()  # warm the new context
        wl.verify()
        ops = self.run_ops(wl, self.args.seconds / 2, 1, alternate=False)
        if not ops:
            return 0.0
        ips_1 = fastest(ops)[1]
        return ips_n / (self.cores * ips_1)

    def py4j_rtt_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        rtts = []
        for _ in range(200):
            t = time.perf_counter()
            jvm.java.lang.System.nanoTime()
            rtts.append(time.perf_counter() - t)
        return statistics.median(rtts) * 1e3

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from py4j.protocol import Py4JError

        gw = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the JVM already closed the connection
            pass
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "synth.inputs_s": "s",
    "engine.enqueue.rows_in": "count",
    "engine.enqueue.rows_out": "count",
    "engine.enqueue.new_ratio": "ratio",
    "engine.enqueue.antijoin_shuffle_bytes": "bytes",
    "engine.schedule.rows_in": "count",
    "engine.schedule.rows_out": "count",
    "engine.schedule.shuffle_bytes": "bytes",
    "engine.schedule.task_skew": "ratio",
    "engine.run_round.s": "s",
    "engine.run_round.jobs": "count",
    "engine.fetch.rows": "count",
    "engine.dlq.rows": "count",
    "incremental.schedule.s": "s",
    "incremental.update_head.s": "s",
    "incremental.jobs": "count",
    "incremental.fallback_hosts": "count",
    "incremental.head_rows": "count",
    "store.commit.s": "s",
    "store.commit.jobs": "count",
    "store.commit.bytes_written": "bytes",
    "store.read.s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
    "host.loadavg1": "load",
    "host.steal_pct": "%",
    "host.py4j_rtt_ms": "ms",
    "trace.op_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "scaling_eff": "ratio",
}
END_TO_END_UNITS = {"setup_s": "s", "op_s": "s", "items_per_s": "1/s",
                    "peak_rss_mb": "MB"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _configure_env()
    t_run = time.perf_counter()
    cpu0 = cpu_times()
    from workloads import WORKLOADS  # imports crawler_spark and pyspark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    b = Bench(args)
    try:
        session_s = b.start(b.cores)
        wl = WORKLOADS[args.workload](b)
        inputs = []
        for rep in range(wl.input_reps):
            t = time.perf_counter()
            wl.make_inputs(rep)
            inputs.append(time.perf_counter() - t)
        inputs_s = statistics.median(inputs)
        from spans import Tracer

        b.tracer = Tracer(False)
        t = time.perf_counter()
        b.main_ops = []
        try:
            wl.warm_up()
        except Exception as e:  # the warm-up op failed its checks
            traceback.print_exc()
            b.attempted, b.failed = 1, 1
            b.errors.append(f"warm-up: {type(e).__name__}: {e}")
        warm_s = time.perf_counter() - t
        if not b.failed:
            b.main_ops = b.run_ops(wl, args.seconds,
                                   wl.min_ops + 2 * args.trace,
                                   alternate=bool(args.trace))
        extra = {}
        if args.trace and wl.measures_scaling and not b.failed:
            extra["scaling_eff"] = b.scaling(wl)
        hwm_mb = (vm_hwm_kb(b.spark.sparkContext._gateway.proc.pid)
                  + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        rtt = b.py4j_rtt_ms()
    finally:
        t_stop = time.perf_counter()
        b.stop()
        stop_s = time.perf_counter() - t_stop
    cpu1 = cpu_times()
    delta = [y - x for x, y in zip(cpu0, cpu1)]
    steal_pct = 100 * delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0

    ops = b.main_ops
    plain = [o for o in ops if not o[2]]
    traced = [o for o in ops if o[2]]
    correct = b.failed == 0 and bool(ops)
    setup_s = session_s + inputs_s + warm_s
    if plain:
        op_s, items_per_s = fastest(plain)
        median_s = statistics.median(o[0] for o in plain)
    else:
        op_s = items_per_s = median_s = 0.0
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"cores={b.cores} driver_mem={b.mem} ops={len(ops)} "
          f"setup_s={setup_s:.3f} (session {session_s:.3f} + inputs "
          f"{inputs_s:.3f} + warm-up op {warm_s:.3f}) op_s={op_s:.4f} "
          f"(fastest of {len(plain)}; median {median_s:.4f}) "
          f"items_per_s={items_per_s:.1f} ({wl.items_label}) "
          f"peak_rss_mb={hwm_mb:.0f} failed_ratio="
          f"{b.failed / max(1, b.attempted):.3f} "
          f"({b.failed}/{b.attempted}) all inputs={sum(inputs):.1f}s "
          f"untimed around ops={b.untimed_s:.1f}s stop={stop_s:.1f}s "
          f"wall={time.perf_counter() - t_run:.1f}s")
    print("[perfbench] op walls (s): " + " ".join(
        f"{o[0]:.3f}{'t' if o[2] else ''}" for o in ops))
    for e in b.errors:
        print(f"[perfbench] FAILED: {e}")

    if args.trace:
        units = {**PER_LAYER_UNITS, **wl.layer_units}
        values = {k: 0.0 for k in units}
        for k in set().union(*(o[3] for o in traced)) if traced else ():
            values[k] = statistics.median(o[3].get(k, 0) for o in traced)
        values.update({
            "session.start_s": session_s,
            "synth.inputs_s": inputs_s,
            "host.loadavg1": os.getloadavg()[0],
            "host.steal_pct": steal_pct,
            "host.py4j_rtt_ms": rtt,
            "trace.op_s": fastest(traced)[0] if traced else 0.0,
            **extra,
        })
        values["trace.overhead_s"] = values["trace.op_s"] - op_s
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in units.items()}
    else:
        values = {"setup_s": setup_s, "op_s": op_s,
                  "items_per_s": items_per_s, "peak_rss_mb": hwm_mb}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))  # only if no other run uses it
        except OSError:
            pass
