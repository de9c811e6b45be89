"""The benchmark's workloads. Each drives the engine only through its
public functions, builds its inputs from the workload seed, times one
"op" at a time and checks every op's output.

A workload provides:

* ``make_inputs(rep)`` — generate and lay out the inputs (repeated for the
  ``setup_s`` median; the last repetition is the one used);
* ``warm_up()`` — the first op, untimed in the window, with the one-off
  output checks;
* ``prepare()`` — untimed, before every op;
* ``op()`` — one timed op;
* ``verify()`` — untimed, right after each op: checks its output and
  executed plan, raises ``CheckFailed``/``PlanPruned``, returns the op's
  item count;
* ``trace_wraps(tracer)`` — spans to install on public functions for a
  traced op;
* ``layer_metrics(jobs)`` — the per-layer numbers of one traced op, given
  the Spark jobs it ran.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import re
import shutil
from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from crawler_spark.frontier import engine, spec, synth
from crawler_spark.frontier import incremental as incremental_mod
from crawler_spark.frontier import store as store_mod

from spans import ancestors, plan_nodes

N_HOSTS = 1000
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "sf0.001")
_MOD = 1_000_000_007


class CheckFailed(Exception):
    """An op's output is wrong."""


class PlanPruned(Exception):
    """The executed plan lacks a node that does the op's work: a timing
    of it would measure less than the op."""


def _digest_cols(names):
    """Row count and two sums of per-row hashes over every column: an
    order-insensitive digest. Each hash is reduced mod a prime first, so
    the sums cannot overflow."""
    cols = [F.col(c) for c in names]
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(_MOD))).alias("h1"),
            F.sum(F.pmod(F.xxhash64(F.lit("perfbench"), *cols),
                         F.lit(_MOD))).alias("h2")]


def digest(df):
    """Materialize every column of ``df`` into its digest. Returns
    (digest, aggregated frame) — the frame's executed plan carries the
    op's SQL metrics."""
    agg = df.agg(*_digest_cols(df.columns))
    r = agg.collect()[0]
    return (r["n"], r["h1"] or 0, r["h2"] or 0), agg


def _tagged(frames: dict, cols):
    """Union of the frames' ``cols``, each row tagged ``_t`` with its key."""
    return reduce(lambda a, b: a.unionByName(b),
                  [df.select(*cols, F.lit(k).alias("_t"))
                   for k, df in frames.items()])


def digests(frames: dict) -> dict[str, tuple]:
    """``digest`` of several frames, in one job. The frames may differ in
    columns: each row is hashed over its own frame's columns."""
    def hashable(f):  # Spark refuses to hash maps: hash sorted entries
        c = F.col(f.name)
        return (F.array_sort(F.map_entries(c))
                if isinstance(f.dataType, MapType) else c)

    hashed = {}
    for k, df in frames.items():
        cols = [hashable(f) for f in df.schema.fields]
        hashed[k] = df.select(
            F.xxhash64(*cols).alias("a"),
            F.xxhash64(F.lit("perfbench"), *cols).alias("b"))
    got = {r["_t"]: (r["n"], r["h1"] or 0, r["h2"] or 0)
           for r in _tagged(hashed, ("a", "b")).groupBy("_t").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.pmod("a", F.lit(_MOD))).alias("h1"),
               F.sum(F.pmod("b", F.lit(_MOD))).alias("h2")).collect()}
    return {k: got.get(k, (0, 0, 0)) for k in frames}


def require_plan(agg, what: str, pattern: str) -> None:
    """Fail unless the final executed plan of ``agg`` (after its action,
    adaptive stages included) has a node matching ``pattern``."""
    plan = agg._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    if not re.search(pattern, plan.treeString()):
        raise PlanPruned(f"executed plan has no {what}")


def _is_antijoin(n) -> bool:
    return n["join"] == "LeftAnti"


def _exchange_bytes(n) -> int:
    m = n["metrics"]
    if n["name"] == "BroadcastExchange":
        return m.get("dataSize", 0)
    if n["name"] == "Exchange":
        return m.get("shuffleBytesWritten", 0)
    return 0


class Workload:
    min_ops = 1
    input_reps = 2  # set-ups per run; setup_s takes the median inputs time
    items_label = "items"
    layer_units: dict[str, str] = {}  # per-layer metrics of this one only
    measures_scaling = False  # traced runs also measure scaling_eff

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.dir = os.path.join(bench.work, self.name)

    def make_inputs(self, rep: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        self.prepare()
        self.op()
        self.verify()

    def prepare(self) -> None:
        """Untimed, before every op."""

    def op(self) -> None:
        raise NotImplementedError

    def verify(self) -> int:
        raise NotImplementedError

    def trace_wraps(self, tracer) -> None:
        pass

    def layer_metrics(self, jobs) -> dict[str, float]:
        return {}


# -- round -----------------------------------------------------------------

class Round(Workload):
    """One north-rule scheduling round over a candidate wave against a
    seen set read from parquet: enqueue -> schedule_batch -> materialize."""

    name = "round"
    # candidate URLs per wave: every page of [off, off + N/2) twice, so
    # the deduped wave handed to enqueue has exactly N/2 rows
    N = 200_000
    K = 64            # per-host budget
    items_label = "candidate URLs scheduled+deduped"
    measures_scaling = True
    min_ops = 5

    def make_inputs(self, rep: int) -> None:
        # the seed rotates the page-id range; nine-digit ids for every
        # seed keep URL lengths (and bytes) the same across seeds
        off = 100_000_000 + (self.b.seed % 4000) * (self.N // 2)
        half = self.N // 2
        p = F.lit(off) + (F.col("id") * 7 + 3) % half
        wave = self.spark.range(0, self.N).select(
            spec.url_of(p, spec.host_id_of_page(p, N_HOSTS),
                        p % 10 == 0).alias("url"))
        # seen: every even page of the wave's range (half its distinct
        # pages) plus as many pages outside it (the lake's older crawl)
        q = F.lit(off) + F.col("id") * 2
        q = F.when(F.col("id") < half // 2, q).otherwise(q + half)
        seen = self.spark.range(0, half).select(
            spec.url_of(q, spec.host_id_of_page(q, N_HOSTS),
                        q % 10 == 0).alias("url"))
        base = os.path.join(self.dir, f"inputs{rep}")
        shutil.rmtree(base, ignore_errors=True)
        wave.write.parquet(os.path.join(base, "wave"))
        seen.write.parquet(os.path.join(base, "seen"))
        self.base = base

    def _batch(self):
        tr = self.b.tracer
        wave = self.spark.read.parquet(os.path.join(self.base, "wave"))
        seen = self.spark.read.parquet(os.path.join(self.base, "seen"))
        robots = synth.robots_dim(self.spark, N_HOSTS)
        with tr.span("engine.enqueue"):
            new = engine.enqueue(wave.dropDuplicates(["url"]), seen, robots,
                                 disc_round=1)
        with tr.span("engine.schedule"):
            batch = engine.schedule_batch(new, round_no=1, k_per_host=self.K,
                                          robots=robots)
        return batch, seen

    def warm_up(self) -> None:
        """First op, materialized once so its rows can be checked: per-host
        seq contiguous from 1 and within budget, disjoint from seen."""
        batch, seen = self._batch()
        batch = batch.localCheckpoint(eager=True)
        self.ref, _ = digest(batch)
        if self.ref[0] == 0:
            raise CheckFailed("round: empty batch")
        if batch.join(seen, "url", "left_semi").count():
            raise CheckFailed("round: batch overlaps the seen set")
        per_host = batch.groupBy("host_id").agg(
            F.count("*").alias("n"), F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
            F.countDistinct("seq").alias("d")).collect()
        for r in per_host:
            if not (r["lo"] == 1 and r["hi"] == r["n"] == r["d"]):
                raise CheckFailed(f"round: host {r['host_id']} seq not "
                                  f"contiguous from 1")
            if r["n"] > spec.host_budget(self.K, r["host_id"]):
                raise CheckFailed(f"round: host {r['host_id']} over budget")

    def op(self) -> None:
        batch, _ = self._batch()
        with self.b.tracer.span("round.materialize"):
            self.out = digest(batch)

    def verify(self) -> int:
        d, agg = self.out
        require_plan(agg, "seen anti-join", r"\bLeftAnti\b")
        require_plan(agg, "per-host Window", r"\bWindow \[")
        if d != self.ref:
            raise CheckFailed(f"round: digest {d} != {self.ref}")
        return self.N

    def layer_metrics(self, jobs) -> dict[str, float]:
        nodes = plan_nodes(self.spark.sparkContext._jvm, self.out[1])
        anti = next(i for i, n in enumerate(nodes) if _is_antijoin(n))
        rows_out = nodes[anti]["metrics"].get("numOutputRows", 0)
        join_names = ("Join", "HashAggregate", "Window")

        def nearest_op(i):
            for a in ancestors(nodes, i):
                if any(k in nodes[a]["name"] for k in join_names) \
                        or nodes[a]["join"]:
                    return a
            return None

        anti_bytes = sum(_exchange_bytes(n) for i, n in enumerate(nodes)
                         if nearest_op(i) == anti)
        # the per-host window's exchanges: above the anti-join, below a
        # Window
        above = ancestors(nodes, anti)
        sched_bytes = sum(
            _exchange_bytes(nodes[i]) for i in above
            if nodes[i]["name"] == "Exchange"
            and any(nodes[a]["name"] == "Window"
                    for a in ancestors(nodes, i)))
        skews = [self.b.probe.stage_task_skew(s["id"])
                 for j in jobs for s in j["stages"]
                 if self.b.probe.stage_has_scope(s["id"], "Window")]
        return {
            "engine.enqueue.rows_in": self.N // 2,
            "engine.enqueue.rows_out": rows_out,
            "engine.enqueue.new_ratio": rows_out / (self.N // 2),
            "engine.enqueue.antijoin_shuffle_bytes": anti_bytes,
            "engine.schedule.rows_in": rows_out,
            "engine.schedule.rows_out": self.out[0][0],
            "engine.schedule.shuffle_bytes": sched_bytes,
            "engine.schedule.task_skew": max(skews, default=1.0),
        }


# -- deep_crawl --------------------------------------------------------------

# every table a crawl round commits in incremental mode
ROUND_TABLES = ("frontier", "seen", "hosts", "fetch_log", "pages", "dlq",
                "metrics", "seen_delta", "frontier_head")


class DeepCrawl(Workload):
    """A checkpointed crawl through ``store.run_crawl_checkpointed`` in
    ``frontier_mode="incremental"``. The set-up commits round 0 from a seed
    list. Every op restores that committed store (a file copy, untimed) and
    resumes it for one round: build the head index, schedule from it, run
    the round, update the head and commit. Every op does the same work, so
    every op must commit the same tables as the fully checked warm-up."""

    name = "deep_crawl"
    # every fetch joins the batch with the whole synthetic web, generated
    # on the fly: 30k pages keep that from dominating a round. The seeds
    # are half of its 3000 listing pages, so the seed picks which half.
    N_PAGES = 30_000
    N_SEEDS = 1_500
    K = 16
    MODE = "incremental"
    ROUND = 1
    # an op takes 7-10 s and a set-up (a cold round-0 commit) about twice
    # as long: one set-up and two timed ops keep a run near a minute
    input_reps = 1
    min_ops = 2
    items_label = "URLs scheduled+committed"

    def make_inputs(self, rep: int) -> None:
        spark = self.spark
        self.web = synth.web_graph(spark, self.N_PAGES, N_HOSTS)
        self.robots = synth.robots_dim(spark, N_HOSTS)
        # the seed rotates the seed list's start (listing pages only)
        start = 10 * ((self.b.seed * 7919) % (self.N_PAGES // 10))
        p = (F.lit(start) + F.col("id") * 10) % self.N_PAGES
        seeds = spark.range(0, self.N_SEEDS).select(
            spec.url_of(p, spec.host_id_of_page(p, N_HOSTS),
                        p % 10 == 0).alias("url"))
        self.snapshot = os.path.join(self.dir, f"store{rep}")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        store_mod.run_crawl_checkpointed(
            store_mod.RoundStore(spark, self.snapshot), self.web,
            self.robots, 0, self.K, seeds=seeds, frontier_mode=self.MODE)
        self.live = os.path.join(self.dir, "live")

    def prepare(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snapshot, self.live)
        self.store = store_mod.RoundStore(self.spark, self.live)

    def op(self) -> None:
        with self.b.tracer.span("store.run_crawl_checkpointed"):
            store_mod.run_crawl_checkpointed(
                self.store, self.web, self.robots, self.ROUND, self.K,
                frontier_mode=self.MODE)

    def warm_up(self) -> None:
        self.prepare()
        self.op()
        self.check_round()

    def committed(self, extra=None) -> dict[str, tuple]:
        """Digests of every table of the committed round, and of the
        ``extra`` frames, in one job."""
        st, r = self.store, self.ROUND
        if st.latest_round() != r:
            raise CheckFailed(f"crawl: round {r} not committed")
        return digests({**{t: st.read(t, r) for t in ROUND_TABLES},
                        **(extra or {})})

    def check_round(self) -> None:
        """Row conservation (batch = fetched ok + requeued + DLQ), seen' =
        seen + new, and the committed batch equal to schedule_batch over
        the previous frontier snapshot (incremental == full), from one
        job. Keeps the committed tables' digests as the reference of later
        ops."""
        st, r = self.store, self.ROUND
        log = st.read("fetch_log", r)
        seen_prev = st.read("seen", r - 1)
        cols = ["host_id", "priority", "url", "seq"]
        want = engine.schedule_batch(st.read("frontier", r - 1), r, self.K,
                                     robots=self.robots)
        d = self.committed({
            "dead": st.read("dlq", r).where(
                F.col("retry_count") <= spec.MAX_RETRIES),
            "requeued": st.read("frontier", r).join(log.select("url"), "url",
                                                    "left_semi"),
            "seen_prev": seen_prev,
            "new_unseen": st.read("seen_delta", r).join(seen_prev, "url",
                                                        "left_anti"),
            "want": want.select(*cols),
            "got": log.select(*cols),
        })
        c = {k: d[t][0] for k, t in (
            ("batch", "fetch_log"), ("ok", "pages"), ("dlq", "dlq"),
            ("dead", "dead"), ("requeued", "requeued"),
            ("seen_prev", "seen_prev"), ("seen", "seen"),
            ("new", "seen_delta"), ("new_unseen", "new_unseen"))}
        if c["batch"] == 0:
            raise CheckFailed(f"crawl r{r}: empty batch")
        if c["batch"] != c["ok"] + c["dlq"] + c["requeued"]:
            raise CheckFailed(f"crawl r{r}: rows not conserved {c}")
        if c["seen"] != c["seen_prev"] + c["new"] or \
                c["new_unseen"] != c["new"]:
            raise CheckFailed(f"crawl r{r}: seen' != seen + new {c}")
        if d["want"] != d["got"]:
            raise CheckFailed(f"crawl r{r}: batch differs from "
                              f"schedule_batch over frontier r{r - 1}")
        self.ref = {t: d[t] for t in ROUND_TABLES}
        self.last = c

    def verify(self) -> int:
        """Every committed table equal (digest) to the warm-up's."""
        got = self.committed()
        for t in ROUND_TABLES:
            if got[t] != self.ref[t]:
                raise CheckFailed(f"crawl: {t} r{self.ROUND} digest "
                                  f"{got[t]} != warm-up {self.ref[t]}")
        return self.last["batch"]

    def trace_wraps(self, tracer) -> None:
        self.fallback = []
        tracer.wrap(store_mod, "run_round", "engine.run_round")
        tracer.wrap(incremental_mod, "build_head", "incremental.build_head")
        tracer.wrap(incremental_mod, "schedule_incremental",
                    "incremental.schedule",
                    on_return=lambda out: self.fallback.append(out[1]))
        tracer.wrap(incremental_mod, "update_head",
                    "incremental.update_head")
        tracer.wrap(store_mod.RoundStore, "commit", "store.commit")
        tracer.wrap(store_mod.RoundStore, "read", "store.read")

    def layer_metrics(self, jobs) -> dict[str, float]:
        r = self.ROUND
        written = 0
        for table in os.listdir(self.store.root):
            d = os.path.join(self.store.root, table, f"r{r:05d}")
            if os.path.isdir(d):
                for f in os.listdir(d):
                    written += os.path.getsize(os.path.join(d, f))
        out = {
            "engine.fetch.rows": self.last["batch"] - self.last["dead"],
            "engine.dlq.rows": self.last["dlq"],
            "store.commit.bytes_written": written,
            "incremental.fallback_hosts": sum(f.count()
                                              for f in self.fallback),
            "incremental.head_rows": (
                self.store.read("frontier_head", r).count()
                if self.store.has_table("frontier_head", r) else 0),
        }
        self.fallback = []
        return out


# -- curation ----------------------------------------------------------------

CURATION_QUERIES = ("curation_e2e", "image_curation_e2e")
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "PythonMapInArrow", "MapInArrow", "FlatMapGroupsInPandas")


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rows_digest(cols, rows) -> str:
    """Order-insensitive hash of a result (columns sorted by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


class Curation(Workload):
    """``curation_e2e`` then ``image_curation_e2e`` on the committed
    sf0.001 parquet, each materialized through a digest of every column.
    The input is fixed: the seed does not change it."""

    name = "curation"
    items_label = "corpus rows curated"
    layer_units = {"curation.curation_e2e.s": "s",
                   "curation.image_curation_e2e.s": "s",
                   "udf.rows": "count", "udf.bytes_to_python": "bytes",
                   "udf.bytes_from_python": "bytes"}

    def make_inputs(self, rep: int) -> None:
        self.n_docs = self.spark.read.parquet(
            os.path.join(DATA_DIR, "documents.parquet")).count()

    def warm_up(self) -> None:
        """First pass: collect both results and compare them against the
        DuckDB oracles (row count + order-insensitive hash)."""
        import duckdb

        from crawler_spark.plans import ORACLES, QUERIES

        con = duckdb.connect()
        for f in sorted(os.listdir(DATA_DIR)):
            t = f.split(".")[0]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA_DIR, f)}')")
        self.ref = {}
        for q in CURATION_QUERIES:
            df = QUERIES[q](self.spark, DATA_DIR).localCheckpoint(eager=True)
            rows = [tuple(r) for r in df.collect()]
            rel = con.sql(ORACLES[q])
            d_cols, d_rows = list(rel.columns), rel.fetchall()
            if not rows:
                raise CheckFailed(f"curation: {q} returned no rows")
            if sorted(df.columns) != sorted(d_cols) or len(rows) != len(
                    d_rows) or rows_digest(df.columns, rows) != rows_digest(
                    d_cols, d_rows):
                raise CheckFailed(f"curation: {q} differs from its oracle")
            self.ref[q] = digest(df)[0]
        con.close()

    def op(self) -> None:
        from crawler_spark.plans import QUERIES

        self.out = {}
        for q in CURATION_QUERIES:
            with self.b.tracer.span(f"curation.{q}"):
                self.out[q] = digest(QUERIES[q](self.spark, DATA_DIR))

    def verify(self) -> int:
        for q, (d, agg) in self.out.items():
            if q == "image_curation_e2e":
                require_plan(agg, "Python (Arrow) UDF node",
                             r"\b(" + "|".join(PYTHON_NODES) + r")\b")
            else:
                require_plan(agg, "decontamination anti-join",
                             r"\bLeftAnti\b")
                require_plan(agg, "packing Window", r"\bWindow \[")
            if d != self.ref[q]:
                raise CheckFailed(f"curation: {q} digest {d} != "
                                  f"{self.ref[q]}")
        return self.n_docs

    def layer_metrics(self, jobs) -> dict[str, float]:
        rows = to_py = from_py = 0
        jvm = self.spark.sparkContext._jvm
        for _, agg in self.out.values():
            for n in plan_nodes(jvm, agg):
                if n["name"] in PYTHON_NODES:
                    m = n["metrics"]
                    rows += m.get("pythonNumRowsReceived",
                                  m.get("numOutputRows", 0))
                    to_py += m.get("pythonDataSent", 0)
                    from_py += m.get("pythonDataReceived", 0)
        return {"udf.rows": rows, "udf.bytes_to_python": to_py,
                "udf.bytes_from_python": from_py}


WORKLOADS = {w.name: w for w in (Round, DeepCrawl, Curation)}
