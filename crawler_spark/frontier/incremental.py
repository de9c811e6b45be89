"""Incremental per-host frontier scheduling (r04 verdict #5).

At 10^10 frontier rows the per-round cost of ``schedule_batch`` is a
window over the ENTIRE eligible frontier — every round shuffles the
whole queued set to emit a batch that is only ``k x active_hosts`` rows.
This module removes that: a persisted per-host ranked HEAD index serves
batches without touching the full frontier, which is then read only by
linear, window-free operations (the batch anti-join and the insert
union run_round already does).

State: ``head`` — FRONTIER_COLS + ``_wm`` (string watermark, constant
per host).  Invariants, with ``okey_str`` the lexicographic encoding of
the frozen order key:

  I1 (dominance)  every head row's okey_str <  every non-head frontier
                  row's okey_str of the same host;
  I2 (watermark)  ``_wm`` is NULL iff head_h contains ALL of
                  frontier_h; otherwise every head row < _wm <= every
                  non-head row.

* Removals (fetched batch) preserve both (dropping rows never
  un-dominates the rest; removed rows leave frontier too).
* Inserts are admitted to the head ONLY when okey_str < _wm (always,
  when _wm is NULL): admitted rows keep I1; rejected rows land at-or-
  after _wm, keeping I2.  The top-cap cut after admission sets the new
  watermark to the best evicted row's okey_str (< old _wm, so I2
  holds for everything ever rejected).
* I1 makes the ELIGIBLE rows inside head_h exactly the top eligible
  rows of host h in global okey order, so ``row_number`` over head_h's
  eligible rows equals the full frontier's eligible seq — the golden
  fetch-log seq is bit-identical by construction, not by luck.
* A host serves from head iff its eligible head rows cover its budget
  OR _wm is NULL (head IS the host's frontier).  Otherwise it FALLS
  BACK to the full per-host window for that round — always exact (it
  IS schedule_batch, restricted) — and its head is rebuilt.
* Starvation-proofing: ``update_head`` rebuilds every host that (a)
  fell back, (b) emptied its head this round (batch host with no
  surviving rows — its watermark state is gone with the rows), or (c)
  ends the round incomplete with < 2k head rows; so a host with
  frontier rows can never silently vanish from the index.

Cost per round: one window + one hash aggregate over the head
(<= cap x hosts rows — the same order as the batch itself) and the
fallback/rebuild window over only the deficient hosts' frontier rows.
Nothing scans-and-shuffles the 10^10-row frontier to schedule.  (On a
lake the frontier table is partitioned/bucketed by host_id, so the
rebuild semi-join prunes to the deficient hosts' files.)

Reference analogue: the reference pops per-host Redis sorted sets
(zpopmin, queue_manager.py:35-61) — a mutable per-host priority
structure — instead of re-sorting its whole queue every round; this is
that structure rebuilt as a Spark state table, with an exactness proof
against the declarative window form (tests/test_incremental.py asserts
bit-identity, golden configs included).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import spec
from .engine import FRONTIER_COLS, schedule_batch

DEFAULT_HEAD_FACTOR = 4  # head capacity per host = factor * k_per_host

HEAD_COLS = [*FRONTIER_COLS, "_wm"]


def okey_str(priority: Column, disc_round: Column, url: Column) -> Column:
    """The frozen order key (priority, disc_round, md5(url), url) encoded
    as ONE lexicographically-ordered string: zero-padded non-negative
    ints (priority is 1..5 post-B7, disc_round is the round counter),
    fixed-width md5, then the url. String order == tuple order."""
    return F.concat(
        F.lpad(priority.cast("string"), 6, "0"), F.lit("|"),
        F.lpad(disc_round.cast("string"), 10, "0"), F.lit("|"),
        F.md5(url), F.lit("|"), url,
    )


def _row_okey_str() -> Column:
    return okey_str(F.col("priority"), F.col("disc_round"), F.col("url"))


def _okey():
    return spec.order_key(F.col("priority"), F.col("disc_round"),
                          F.col("url"))


def _top_cap(rows: DataFrame, cap: int, carried_wm: Column,
             salted: bool, salt_buckets: int = 8) -> DataFrame:
    """Top-``cap`` rows per host by okey with watermark maintenance:
    the new per-host ``_wm`` is the okey_str of the best EVICTED row
    (rank cap+1) when eviction happens, else the carried watermark.
    ``salted`` two-phase for build/rebuild over possibly-huge hosts
    (keeps cap+1 per (host, salt), so the global rank-(cap+1) row
    always survives phase 1); the merge path passes salted=False (its
    input is <= cap + inserts_h per host by construction)."""
    okey = _okey()
    if salted:
        salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        w_local = W.partitionBy("host_id", "salt").orderBy(*okey)
        rows = (
            rows.withColumn("salt", salt)
            .withColumn("_lr", F.row_number().over(w_local))
            .where(F.col("_lr") <= cap + 1)
            .drop("_lr", "salt")
        )
    w_host = W.partitionBy("host_id").orderBy(*okey)
    w_cnt = W.partitionBy("host_id")
    return (
        rows.withColumn("_r", F.row_number().over(w_host))
        .withColumn(
            "_evict_wm",
            F.max(F.when(F.col("_r") == cap + 1, _row_okey_str()))
            .over(w_cnt),
        )
        .withColumn("_wm_new", F.coalesce(F.col("_evict_wm"), carried_wm))
        .where(F.col("_r") <= cap)
        .select(*FRONTIER_COLS, F.col("_wm_new").alias("_wm"))
    )


def build_head(frontier: DataFrame, k_per_host: int,
               head_factor: int = DEFAULT_HEAD_FACTOR) -> DataFrame:
    """Initial head index: the one full-frontier window, paid once."""
    return _top_cap(frontier, head_factor * k_per_host,
                    F.lit(None).cast("string"), salted=True)


def _budget(robots: DataFrame | None, k_per_host: int):
    """(joinable delay dim or None, budget expression) — the same
    crawl_delay arithmetic as schedule_batch."""
    if robots is not None and "crawl_delay" in robots.columns:
        delays = robots.select("host_id", "crawl_delay")
        return delays, F.when(
            F.col("crawl_delay").isNull(), F.lit(k_per_host)
        ).otherwise(
            F.greatest(F.lit(1),
                       F.floor(k_per_host / F.col("crawl_delay")))
        )
    return None, F.lit(k_per_host)


def schedule_incremental(
    head: DataFrame,
    frontier: DataFrame,
    round_no: int,
    k_per_host: int,
    robots: DataFrame | None = None,
    cooldown_hosts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One round's fetch batch from the head index.

    Returns ``(batch, fallback_hosts)`` — ``batch`` is bit-identical to
    ``schedule_batch(frontier, ...)`` under the module invariants;
    ``fallback_hosts`` (1-column host_id) must be passed to
    ``update_head`` so those heads are rebuilt.
    """
    sched = head
    if cooldown_hosts is not None:
        sched = sched.join(F.broadcast(cooldown_hosts), "host_id",
                           "left_anti")
    eligible = F.col("eligible_round") <= round_no
    delays, budget = _budget(robots, k_per_host)

    stats = sched.groupBy("host_id").agg(
        F.sum(eligible.cast("int")).alias("_n_elig"),
        # _wm is host-constant; NULL means complete
        F.sum(F.col("_wm").isNotNull().cast("int")).alias("_incomplete"),
    )
    if delays is not None:
        stats = stats.join(F.broadcast(delays), "host_id", "left")
    # eager (tiny: <= hosts rows): the common steady state is ZERO
    # fallback hosts, and knowing that lets the round skip the frontier
    # semi-join branch entirely — the whole point is never touching the
    # big table on the happy path.
    fallback_hosts = stats.where(
        (F.col("_n_elig") < budget) & (F.col("_incomplete") > 0)
    ).select("host_id").localCheckpoint(eager=True)

    okey = _okey()
    w_host = W.partitionBy("host_id").orderBy(*okey)
    batch_head = (
        sched.join(F.broadcast(fallback_hosts), "host_id", "left_anti")
        .where(eligible)
        .withColumn("seq", F.row_number().over(w_host).cast("int"))
        .select(*FRONTIER_COLS, "seq")
    )
    if delays is not None:
        batch_head = (
            batch_head.join(F.broadcast(delays), "host_id", "left")
            .where(F.col("seq") <= budget)
            .drop("crawl_delay")
        )
    else:
        batch_head = batch_head.where(F.col("seq") <= k_per_host)

    if fallback_hosts.isEmpty():
        return batch_head, fallback_hosts
    fb_frontier = frontier.join(F.broadcast(fallback_hosts), "host_id",
                                "left_semi")
    batch_fb = schedule_batch(fb_frontier, round_no, k_per_host,
                              robots=robots)
    return batch_head.unionByName(batch_fb), fallback_hosts


def update_head(
    head: DataFrame,
    frontier_next: DataFrame,
    batch: DataFrame,
    inserts: DataFrame,
    fallback_hosts: DataFrame,
    k_per_host: int,
    head_factor: int = DEFAULT_HEAD_FACTOR,
) -> DataFrame:
    """Post-round head maintenance: remove the batch, admit the round's
    inserts (new links + requeues) under the watermark rule, re-cut to
    cap, and rebuild every host named by the starvation guard."""
    cap = head_factor * k_per_host

    # eager (<= cap x hosts rows — head-sized): kept feeds two consumers
    # (host watermarks, the merge); without materialization each
    # recomputes the anti-joins. The batch was cut from this head, so it
    # is the smaller side: broadcast it and the head never shuffles.
    kept = (
        head.join(F.broadcast(fallback_hosts), "host_id", "left_anti")
        .join(F.broadcast(batch.select("url")), "url", "left_anti")
    ).localCheckpoint(eager=True)
    host_wm = kept.groupBy("host_id").agg(F.first("_wm").alias("_host_wm"))
    batch_hosts = batch.select("host_id").distinct()
    # batch hosts whose head emptied: their watermark state died with
    # the rows — rebuild (a complete host that emptied rebuilds to an
    # empty/complete head from its now-empty frontier slice: harmless)
    vanished = batch_hosts.join(host_wm.select("host_id"), "host_id",
                                "left_anti")
    # eager (<= hosts rows): read by the insert filter and the rebuild
    # set, which would otherwise each re-run its distinct/anti-join
    rebuild1 = (fallback_hosts.unionByName(vanished).distinct()
                .localCheckpoint(eager=True))

    ins = (
        inserts.select(*FRONTIER_COLS)
        .join(F.broadcast(rebuild1), "host_id", "left_anti")
        .join(F.broadcast(host_wm), "host_id", "left")
        # admit iff the host is complete (_host_wm NULL — includes
        # brand-new hosts) or the row dominates the watermark
        .where(F.col("_host_wm").isNull()
               | (_row_okey_str() < F.col("_host_wm")))
        .select(*FRONTIER_COLS, F.col("_host_wm").alias("_wm"))
    )
    # eager (head-sized): read by the deficiency probe and the returned
    # head — and, checkpointed, the store's commit write is a plain copy
    merged = _top_cap(
        kept.unionByName(ins), cap,
        carried_wm=F.col("_wm"), salted=False,
    ).localCheckpoint(eager=True)

    deficient = merged.groupBy("host_id").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_wm").isNotNull().cast("int")).alias("_incomplete"),
    ).where(
        (F.col("_incomplete") > 0) & (F.col("_n") < 2 * k_per_host)
    ).select("host_id")
    rebuild = (rebuild1.unionByName(deficient).distinct()
               .localCheckpoint(eager=True))

    if rebuild.isEmpty():
        # steady state: no host touches the frontier at all this round
        return merged
    rebuilt = _top_cap(
        frontier_next.join(F.broadcast(rebuild), "host_id", "left_semi"),
        cap, F.lit(None).cast("string"), salted=True,
    )
    return (
        merged.join(F.broadcast(rebuild), "host_id", "left_anti")
        .unionByName(rebuilt)
    )
