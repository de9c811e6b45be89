"""Incremental per-host scheduling (frontier/incremental.py): the head
index must produce BIT-IDENTICAL batches to the full-frontier window
(schedule_batch) under removals, watermarked inserts, retries with
future eligibility, per-host crawl_delay budgets, fallbacks and
rebuilds — proven three ways: a single-round equivalence, a multi-round
adversarial simulation at head_factor=1 (maximal eviction/fallback
pressure), and full-crawl byte-identity through the checkpointed store
on the golden config."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crawler_spark.frontier import synth
from crawler_spark.frontier.engine import FRONTIER_COLS, schedule_batch
from crawler_spark.frontier.incremental import (
    build_head,
    schedule_incremental,
    update_head,
)

K = 2


def _frontier(spark, n, hosts=6, rnd=0):
    """Synthetic frontier rows, unique urls, a few future-eligible."""
    return spark.range(n).select(
        F.concat(F.lit(f"https://h"), (F.col("id") % hosts).cast("string"),
                 F.lit(f".synth.test/apa/d/item-{rnd}-"),
                 F.col("id").cast("string"),
                 F.lit("/x.html")).alias("url"),
        (F.col("id") % hosts).cast("int").alias("host_id"),
        (1 + F.pmod(F.xxhash64("id"), F.lit(5))).cast("int").alias("priority"),
        F.lit(rnd).cast("int").alias("disc_round"),
        F.lit(0).cast("int").alias("retry_count"),
        # every 7th row only becomes eligible two rounds later
        F.when(F.col("id") % 7 == 3, rnd + 2).otherwise(rnd)
        .cast("int").alias("eligible_round"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(*FRONTIER_COLS, "seq").collect())


def test_single_round_equivalence(spark):
    fr = _frontier(spark, 400).localCheckpoint(eager=True)
    robots = synth.robots_dim(spark, 6)
    for rb in (None, robots):
        full = schedule_batch(fr, 1, K, robots=rb)
        head = build_head(fr, K)
        inc, fb = schedule_incremental(head, fr, 1, K, robots=rb)
        assert _rows(inc) == _rows(full)
        assert fb.count() == 0  # fresh full-capacity heads never fall back


def test_multi_round_adversarial_equivalence(spark):
    """head_factor=1 (cap == k): every round consumes the whole head,
    forcing the vanish/rebuild and watermark-reject paths constantly;
    retries (future eligibility) and crawl_delay budgets included."""
    robots = synth.robots_dim(spark, 6)
    fr = _frontier(spark, 300).localCheckpoint(eager=True)
    head = build_head(fr, K, head_factor=1).localCheckpoint(eager=True)
    saw_fallback = False
    for r in range(1, 6):
        full = schedule_batch(fr, r, K, robots=robots)
        inc, fb = schedule_incremental(head, fr, r, K, robots=robots)
        assert _rows(inc) == _rows(full), f"round {r}"
        fb = fb.localCheckpoint(eager=True)
        saw_fallback = saw_fallback or fb.count() > 0
        batch = inc.localCheckpoint(eager=True)
        inserts = _frontier(spark, 40, rnd=r).localCheckpoint(eager=True)
        fr = (
            fr.join(batch.select("url"), "url", "left_anti")
            .select(*FRONTIER_COLS)
            .unionByName(inserts.select(*FRONTIER_COLS))
            .localCheckpoint(eager=True)
        )
        head = update_head(head, fr, batch, inserts, fb, K,
                           head_factor=1).localCheckpoint(eager=True)
    assert saw_fallback, "head_factor=1 must exercise the fallback path"


def test_watermark_rejects_dominated_inserts(spark):
    """The r05 design bug-case: an incomplete host whose head empties /
    shrinks must NOT admit inserts that rank below ever-evicted rows —
    they'd displace better rows still sitting in the frontier."""
    def row(url, prio):
        return (f"https://h0.synth.test/apa/d/{url}/x.html", 0, prio, 0, 0, 0)

    fr = spark.createDataFrame(
        [row("a", 1), row("b", 2), row("c", 3), row("d", 4)],
        FRONTIER_COLS,
    ).localCheckpoint(eager=True)
    head = build_head(fr, 1, head_factor=2)  # cap 2: {a,b}, wm = c
    batch, fb = schedule_incremental(head, fr, 1, 1)  # k=1 -> takes a
    assert [r.url for r in batch.collect()] == [row("a", 1)[0]]
    assert fb.count() == 0
    # insert e with priority 5 (ranks after d) — must be rejected from
    # the head; the starvation guard then rebuilds from the frontier
    ins = spark.createDataFrame([row("e", 5)], FRONTIER_COLS)
    fr2 = fr.join(batch.select("url"), "url", "left_anti") \
            .unionByName(ins).localCheckpoint(eager=True)
    head2 = update_head(head, fr2, batch, ins, fb, 1, head_factor=2)
    full = schedule_batch(fr2, 2, 1)
    inc, _ = schedule_incremental(head2, fr2, 2, 1)
    assert _rows(inc) == _rows(full)          # b, not e
    assert [r.url for r in inc.collect()] == [row("b", 2)[0]]


def test_store_crawl_byte_identity(spark):
    """Full-engine proof: the checkpointed 5-round crawl (cooldown=2,
    retries, budgets) commits IDENTICAL fetch_log / seen / frontier in
    both frontier modes."""
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed
    from crawler_spark.sources.testdata import load_table

    n_pages = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    web = synth.web_graph(spark, n_pages, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, n_pages, 6, 20)

    outs = {}
    for mode in ("full", "incremental"):
        root = tempfile.mkdtemp(prefix=f"inc_golden_{mode}_")
        try:
            store = RoundStore(spark, root)
            run_crawl_checkpointed(store, web, robots, rounds=5,
                                   k_per_host=K, seeds=seeds,
                                   cooldown_rounds=2, frontier_mode=mode)
            outs[mode] = {
                "log": sorted(map(tuple, store.read_deltas("fetch_log")
                                  .collect())),
                "seen": sorted(r.url for r in
                               store.read("seen", 5).collect()),
                "frontier": sorted(map(tuple, store.read("frontier", 5)
                                       .select(*FRONTIER_COLS).collect())),
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    assert outs["full"]["log"] == outs["incremental"]["log"]
    assert outs["full"]["seen"] == outs["incremental"]["seen"]
    assert outs["full"]["frontier"] == outs["incremental"]["frontier"]
    assert len(outs["full"]["log"]) > 0


def test_resume_across_modes(spark):
    """A store committed in full mode resumes in incremental mode (the
    head is rebuilt from the frontier snapshot) — same final outputs as
    an uninterrupted full-mode crawl."""
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed
    from crawler_spark.sources.testdata import load_table

    n_pages = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    web = synth.web_graph(spark, n_pages, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, n_pages, 6, 20)

    root_a = tempfile.mkdtemp(prefix="inc_resume_a_")
    root_b = tempfile.mkdtemp(prefix="inc_resume_b_")
    try:
        sa = RoundStore(spark, root_a)
        run_crawl_checkpointed(sa, web, robots, rounds=4, k_per_host=K,
                               seeds=seeds)
        sb = RoundStore(spark, root_b)
        run_crawl_checkpointed(sb, web, robots, rounds=2, k_per_host=K,
                               seeds=seeds)
        run_crawl_checkpointed(sb, web, robots, rounds=4, k_per_host=K,
                               frontier_mode="incremental")
        a = sorted(map(tuple, sa.read_deltas("fetch_log").collect()))
        b = sorted(map(tuple, sb.read_deltas("fetch_log").collect()))
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


def test_orphan_head_dir_is_invisible(spark, tmp_path):
    """Manifest membership is the only visibility authority (review
    finding r05): a frontier_head directory left by a crashed/partial
    write must be IGNORED — the head is rebuilt from the frontier
    snapshot, so batches still match full mode."""
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed
    from crawler_spark.sources.testdata import load_table

    n_pages = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    web = synth.web_graph(spark, n_pages, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, n_pages, 6, 20)

    logs = {}
    for mode in ("full", "incremental"):
        store = RoundStore(spark, str(tmp_path / f"wh_{mode}"))
        run_crawl_checkpointed(store, web, robots, rounds=1, k_per_host=K,
                               seeds=seeds)
        # plant an orphaned TRUNCATED head at round 1 (not in manifest)
        orphan = build_head(store.read("frontier", 1), K).limit(3)
        orphan.write.parquet(store._dir("frontier_head", 1))
        assert not store.has_table("frontier_head", 1)
        run_crawl_checkpointed(store, web, robots, rounds=3, k_per_host=K,
                               frontier_mode=mode)
        logs[mode] = sorted(map(tuple,
                                store.read_deltas("fetch_log").collect()))
    assert logs["full"] == logs["incremental"] and len(logs["full"]) > 0


def test_seed_inbox_invalidates_head(spark, tmp_path):
    """An out-of-band frontier merge (streaming seed inbox) DELISTS the
    committed head (store.DERIVED_TABLES), so the next incremental round
    rebuilds and schedules the injected seeds exactly like full mode
    (review finding r05: a stale head starved injected seeds)."""
    import os

    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed
    from crawler_spark.sources.testdata import load_table
    from crawler_spark.streaming.rounds import stream_seed_inbox

    n_pages = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    web = synth.web_graph(spark, n_pages, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, n_pages, 4, 20)
    extra = synth.seed_urls(spark, n_pages, 12, 20)  # supersets seeds

    logs = {}
    for mode in ("full", "incremental"):
        root = tmp_path / f"inj_{mode}"
        store = RoundStore(spark, str(root))
        run_crawl_checkpointed(store, web, robots, rounds=2, k_per_host=K,
                               seeds=seeds, frontier_mode=mode)
        had_head = store.has_table("frontier_head", 2)
        inbox = str(root / "inbox")
        os.makedirs(inbox, exist_ok=True)
        extra.write.parquet(inbox, mode="overwrite")
        q = stream_seed_inbox(spark, store, robots, inbox, str(root / "ck"))
        q.awaitTermination(120)
        if mode == "incremental":
            assert had_head
            # the frontier re-commit must have delisted the derived head
            assert not store.has_table("frontier_head", 2)
        run_crawl_checkpointed(store, web, robots, rounds=4, k_per_host=K,
                               frontier_mode=mode)
        logs[mode] = sorted(map(tuple,
                                store.read_deltas("fetch_log").collect()))
    assert logs["full"] == logs["incremental"] and len(logs["full"]) > 0


def test_payload_crawl_identity_across_modes(spark, tmp_path):
    """North-rule composition: the image+caption payload crawl commits a
    byte-identical pages table (including the binary payload column)
    under both frontier modes."""
    import hashlib

    from pyspark.sql import functions as F

    from crawler_spark.frontier import images as I
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed
    from crawler_spark.sources.testdata import load_table

    n_pages = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    web = synth.web_graph(spark, n_pages, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, n_pages, 6, 20)
    imgs = I.images_table(spark, n_pages).localCheckpoint()

    digests = {}
    for mode in ("full", "incremental"):
        store = RoundStore(spark, str(tmp_path / f"pay_{mode}"))
        run_crawl_checkpointed(store, web, robots, rounds=3, k_per_host=K,
                               seeds=seeds, images=imgs, frontier_mode=mode)
        rows = sorted(
            store.read_deltas("pages")
            .select("round", "url", "kind", "image_id", "caption",
                    F.md5(F.col("bytes")).alias("payload_md5"))
            .collect()
        )
        h = hashlib.sha256()
        for r in rows:
            h.update(repr(tuple(r)).encode())
        digests[mode] = (len(rows), h.hexdigest())
    assert digests["full"] == digests["incremental"]
    assert digests["full"][0] > 0


# -- randomized invariant check (hypothesis) --------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _crawl_script(draw):
    n_hosts = draw(st.integers(2, 4))
    k = draw(st.integers(1, 3))
    head_factor = draw(st.integers(1, 2))
    rows = []
    for i in range(draw(st.integers(10, 40))):
        rows.append((f"https://h{draw(st.integers(0, n_hosts - 1))}"
                     f".synth.test/apa/d/seed-{i}/x.html",
                     0, draw(st.integers(1, 5)), 0, 0,
                     draw(st.integers(0, 2))))
    waves = []
    for r in range(1, 4):
        wave = []
        for j in range(draw(st.integers(0, 12))):
            wave.append((f"https://h{draw(st.integers(0, n_hosts - 1))}"
                         f".synth.test/apa/d/w{r}-{j}/x.html",
                         0, draw(st.integers(1, 5)), r, 0,
                         r + draw(st.integers(0, 2))))
        waves.append(wave)
    requeue_frac = draw(st.sampled_from([0.0, 0.5]))
    return n_hosts, k, head_factor, rows, waves, requeue_frac


def _fix_host(rows):
    # host_id column must match the url's host for the window partitioning
    return [(u, int(u.split("https://h")[1].split(".")[0]), p, d, rc, e)
            for (u, _h, p, d, rc, e) in rows]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_crawl_script())
def test_incremental_equivalence_property(spark, script):
    """Randomized rounds: arbitrary priorities/eligibility, insert waves
    on arbitrary hosts, and requeues (retry rows with future
    eligibility) — schedule_incremental must equal schedule_batch
    every round under any head_factor."""
    n_hosts, k, head_factor, rows, waves, requeue_frac = script
    fr = spark.createDataFrame(_fix_host(rows), FRONTIER_COLS) \
        .dropDuplicates(["url"]).localCheckpoint(eager=True)
    head = build_head(fr, k, head_factor=head_factor) \
        .localCheckpoint(eager=True)
    for r, wave in enumerate(waves, start=1):
        full = schedule_batch(fr, r, k)
        inc, fb = schedule_incremental(head, fr, r, k)
        assert _rows(inc) == _rows(full), f"round {r}"
        batch = inc.localCheckpoint(eager=True)
        fb = fb.localCheckpoint(eager=True)
        ins = spark.createDataFrame(
            _fix_host(wave), FRONTIER_COLS) if wave else None
        if requeue_frac and batch.count():
            req = batch.select(*FRONTIER_COLS).where(
                F.xxhash64("url") % 2 == 0
            ).withColumn("retry_count", F.col("retry_count") + 1) \
             .withColumn("eligible_round", F.lit(r + 1))
            ins = req if ins is None else ins.unionByName(req)
        if ins is None:
            ins = spark.createDataFrame([], fr.schema)
        ins = ins.localCheckpoint(eager=True)
        fr = (
            fr.join(batch.select("url"), "url", "left_anti")
            .select(*FRONTIER_COLS)
            .unionByName(ins.select(*FRONTIER_COLS))
            .dropDuplicates(["url"])
            .localCheckpoint(eager=True)
        )
        head = update_head(head, fr, batch, ins, fb, k,
                           head_factor=head_factor) \
            .localCheckpoint(eager=True)


def test_derived_table_manifest_semantics(spark, tmp_path):
    """Unit pin on RoundStore.commit's invalidation rule: rewriting the
    base (`frontier`) without the derived (`frontier_head`) delists the
    derived; providing both keeps both; untouched tables survive
    partial re-commits."""
    from crawler_spark.frontier.store import RoundStore

    store = RoundStore(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1,)], "x int")
    store.commit(0, {"frontier": df, "frontier_head": df, "seen": df})
    assert store.has_table("frontier_head", 0)
    store.commit(0, {"frontier": df})          # base rewritten alone
    assert not store.has_table("frontier_head", 0)
    assert store.has_table("seen", 0)          # untouched table survives
    store.commit(0, {"frontier": df, "frontier_head": df})
    assert store.has_table("frontier_head", 0)
    store.commit(0, {"seen": df})              # non-base re-commit
    assert store.has_table("frontier_head", 0)


def test_resumed_round_reuses_generated_code(spark, tmp_path):
    """The generated-class cache holds a whole incremental round: resuming
    the same committed round a second time in one session compiles no
    new class (with the default 100 entries it recompiled ~200)."""
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed

    web = synth.web_graph(spark, 2000, 20)
    robots = synth.robots_dim(spark, 20)
    seeds = synth.seed_urls(spark, 2000, 6, 20)
    snap = tmp_path / "r0"
    run_crawl_checkpointed(RoundStore(spark, str(snap)), web, robots,
                           rounds=0, k_per_host=K, seeds=seeds,
                           frontier_mode="incremental")
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics

    def resume(name):
        live = tmp_path / name
        shutil.copytree(snap, live)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run_crawl_checkpointed(RoundStore(spark, str(live)), web, robots,
                               rounds=1, k_per_host=K,
                               frontier_mode="incremental")
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    # the counter is live: a literal no earlier plan used forces a class
    import random
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    spark.range(3).where(F.col("id") != random.getrandbits(60)).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() > before

    resume("first")  # may hit classes an earlier test compiled
    assert resume("second") == 0
