"""Frontier commit strategies (full rewrite / state.write_mor_delta):
MOR per-epoch write I/O is O(churn) while the effective snapshot stays
row-equivalent to the full-rewrite layout.

The reference keeps its whole frontier in a driver-local ETS queue
(producer/ets.ex), so snapshot cost never appears there; at 10^10 URLs
a full rewrite per epoch is the scale killer the MOR layout removes.
MOR writes enter-rows + leave-tombstones and assembles at read time;
"auto" (default) picks MOR for large, low-churn frontiers.  A full
commit keeps the anti-join of the scheduled keys when dedup
guarantees unique url_keys, and the rank-losers side outputs
otherwise."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spider_man_spark.config import CrawlConfig
from spider_man_spark.plans.job import CrawlJob
from spider_man_spark.plans.state import StateStore
from spider_man_spark.schemas import FRONTIER_SCHEMA
from spider_man_spark.sources.corpus import make_corpus


def _frontier_df(spark, rows):
    """rows: list of (url_key, host_salt)."""
    return spark.createDataFrame(
        [
            (uk, uk, f"h{hs}.test", hs, None, 0, 0, 3, None, None)
            for uk, hs in rows
        ],
        FRONTIER_SCHEMA,
    )


def _snap_rows(store, epoch):
    df = store.read_snapshot("frontier", epoch, FRONTIER_SCHEMA)
    return sorted((r.url_key, r.host_salt) for r in df.collect())


def test_mor_delta_basic_overlay(spark, tmp_path):
    """enter + leave overlay a full base; size chain is exact with no
    read-back job."""
    store = StateStore(spark, str(tmp_path / "wd"))
    store.write(
        "frontier",
        _frontier_df(spark, [("a0", 0), ("a1", 0), ("b0", 1)]),
        0,
    )
    size = store.write_mor_delta(
        "frontier",
        enters=_frontier_df(spark, [("c0", 2), ("c1", 2)]),
        leaves=_frontier_df(spark, [("a0", 0)]),
        epoch=1,
        prev_size=3,
    )
    assert size == 4
    assert store.snapshot_size_fast("frontier", 1) == 4
    assert _snap_rows(store, 1) == sorted(
        [("a1", 0), ("b0", 1), ("c0", 2), ("c1", 2)]
    )
    # time travel below the delta still sees the base
    assert _snap_rows(store, 0) == sorted(
        [("a0", 0), ("a1", 0), ("b0", 1)]
    )


def test_mor_retry_reenter_same_epoch_survives(spark, tmp_path):
    """A url_key that LEAVES (scheduled) and RE-ENTERS (failed fetch,
    retries-1) in the same epoch must survive — the tombstone only
    kills pre-epoch rows.  A later leave without re-enter kills it."""
    store = StateStore(spark, str(tmp_path / "wd"))
    store.write("frontier", _frontier_df(spark, [("r0", 0), ("x0", 1)]), 0)
    # epoch 1: r0 scheduled, fails, re-enters
    store.write_mor_delta(
        "frontier",
        enters=_frontier_df(spark, [("r0", 0)]),
        leaves=_frontier_df(spark, [("r0", 0)]),
        epoch=1,
        prev_size=2,
    )
    assert _snap_rows(store, 1) == [("r0", 0), ("x0", 1)]
    # epoch 2: r0 scheduled again, succeeds (no re-enter)
    store.write_mor_delta(
        "frontier",
        enters=None,
        leaves=_frontier_df(spark, [("r0", 0)]),
        epoch=2,
        prev_size=2,
    )
    assert _snap_rows(store, 2) == [("x0", 1)]
    assert store.snapshot_size_fast("frontier", 2) == 1


def test_mor_compact_collapses_chain(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "wd"))
    store.write("frontier", _frontier_df(spark, [("a0", 0), ("b0", 1)]), 0)
    store.write_mor_delta(
        "frontier", _frontier_df(spark, [("c0", 2)]),
        _frontier_df(spark, [("b0", 1)]), 1, 2,
    )
    store.write_mor_delta(
        "frontier", _frontier_df(spark, [("d0", 3)]),
        _frontier_df(spark, [("a0", 0)]), 2, 2,
    )
    expected = _snap_rows(store, 2)
    assert expected == [("c0", 2), ("d0", 3)]
    assert store.compact_snapshot("frontier", 2) == 2
    assert store._mor_meta("frontier", 2) is None
    assert _snap_rows(store, 2) == expected
    # size chain re-seeds on the next delta commit
    assert store.snapshot_size_fast("frontier", 2) is None
    size = store.write_mor_delta(
        "frontier", _frontier_df(spark, [("e0", 4)]), None, 3, 2
    )
    assert size == 3
    assert _snap_rows(store, 3) == [("c0", 2), ("d0", 3), ("e0", 4)]


def test_mixed_layout_chain(spark, tmp_path):
    """full -> MOR -> full -> MOR interleavings (what "auto" produces
    when the policy flips) resolve correctly at every epoch, and
    compaction folds the whole stack into one full dir."""
    store = StateStore(spark, str(tmp_path / "wd"))
    store.write(
        "frontier",
        _frontier_df(spark, [("a0", 0), ("b0", 1), ("c0", 2)]),
        0,
    )
    # MOR epoch 1 over the full base: a0 leaves, d0 enters
    size = store.write_mor_delta(
        "frontier", _frontier_df(spark, [("d0", 3)]),
        _frontier_df(spark, [("a0", 0)]), 1, prev_size=3,
    )
    assert size == 3
    assert _snap_rows(store, 1) == [("b0", 1), ("c0", 2), ("d0", 3)]
    # full epoch 2 (b0 scheduled), then MOR epoch 3 over it
    store.write(
        "frontier", _frontier_df(spark, [("c0", 2), ("d0", 3)]), 2
    )
    size = store.write_mor_delta(
        "frontier", _frontier_df(spark, [("e0", 4)]),
        _frontier_df(spark, [("c0", 2)]), 3, prev_size=2,
    )
    assert size == 2
    assert _snap_rows(store, 3) == [("d0", 3), ("e0", 4)]
    # time travel: each epoch resolves against its own base
    assert _snap_rows(store, 1) == [("b0", 1), ("c0", 2), ("d0", 3)]
    assert _snap_rows(store, 2) == [("c0", 2), ("d0", 3)]
    # compaction collapses all four layers into one full dir
    assert store.compact_snapshot("frontier", 3) == 3
    assert store._epochs("frontier", 3) == [3]
    assert store._mor_meta("frontier", 3) is None
    assert _snap_rows(store, 3) == [("d0", 3), ("e0", 4)]


def test_legacy_sharded_workdir_refused(spark, tmp_path):
    """A frontier epoch dir carrying an older build's shards.json
    holds only the shards that changed; reading it as a full snapshot
    would drop rows, so opening the workdir fails and says how to
    fold it."""
    wd = str(tmp_path / "wd")
    store = StateStore(spark, wd)
    store.write("frontier", _frontier_df(spark, [("a0", 0)]), 0)
    d1 = os.path.join(wd, "frontier", "e_00001")
    os.makedirs(d1)
    open(os.path.join(d1, "_SUCCESS"), "w").close()
    with open(os.path.join(d1, "shards.json"), "w") as f:
        json.dump({"dirty": [0], "counts": {"0": 1}}, f)
    with pytest.raises(ValueError, match="e_00001.*compact_snapshot"):
        StateStore(spark, wd)
    with pytest.raises(ValueError, match="sharded"):
        CrawlJob(spark, CrawlConfig(workdir=wd))


def test_safe_replace_crash_recovery(spark, tmp_path):
    """_recover_replacements finishes or rolls back an interrupted
    dir replacement: a complete __tmp with the final dir missing rolls
    FORWARD; an orphaned __old with no final dir rolls BACK; stale
    leftovers beside a live final dir are dropped."""
    import shutil as sh

    wd = str(tmp_path / "wd")
    store = StateStore(spark, wd)
    store.write("frontier", _frontier_df(spark, [("a0", 0)]), 0)
    d0 = os.path.join(wd, "frontier", "e_00000")

    # crash AFTER final was moved aside and tmp completed: roll forward
    sh.copytree(d0, d0 + "__tmp")
    os.rename(d0, d0 + "__old")
    # (simulated new content: tmp is the replacement)
    store2 = StateStore(spark, wd)
    assert _snap_rows(store2, 0) == [("a0", 0)]
    assert os.path.isdir(d0)
    assert not os.path.exists(d0 + "__tmp")
    assert not os.path.exists(d0 + "__old")

    # crash BEFORE tmp completed (no _SUCCESS): tmp dropped, old rolls back
    os.makedirs(d0 + "__tmp")  # incomplete tmp, no _SUCCESS
    os.rename(d0, d0 + "__old")
    store3 = StateStore(spark, wd)
    assert _snap_rows(store3, 0) == [("a0", 0)]
    assert not os.path.exists(d0 + "__tmp")
    assert not os.path.exists(d0 + "__old")

    # stale leftovers beside a live final dir are dropped
    sh.copytree(d0, d0 + "__old")
    os.makedirs(d0 + "__tmp")
    store4 = StateStore(spark, wd)
    assert _snap_rows(store4, 0) == [("a0", 0)]
    assert not os.path.exists(d0 + "__tmp")
    assert not os.path.exists(d0 + "__old")


@pytest.fixture(scope="module")
def corpus(spark):
    return make_corpus(
        spark, n_hosts=4, pages_per_host=10, out_degree=2, images_per_host=2,
        hot_hosts=1,
    ).cache()


def test_crawl_equivalence_all_modes(spark, tmp_path, corpus):
    """Whole-crawl equivalence: identical per-epoch scheduled counts,
    frontier sizes, final frontier rows, and seen digest under both
    commit layouts — with compaction exercised mid-run."""

    def run(mode):
        cfg = CrawlConfig(
            workdir=str(tmp_path / f"wd_{mode}"), tokens_per_epoch=20,
            frontier_mode=mode, compact_every=3,
        )
        job = CrawlJob(spark, cfg, corpus=corpus)
        job.insert_requests([f"http://h{i}.test/p/0" for i in range(4)])
        series = []
        for _ in range(6):
            r = job.step()
            series.append((r.scheduled, r.frontier_size))
        ep = job.store.last_epoch()
        fr = job.store.read_snapshot("frontier", ep, FRONTIER_SCHEMA)
        rows = sorted(
            (r.url_key, r.depth, r.retries) for r in fr.collect()
        )
        seen = job.store.read_deltas("seen", ep)
        digest = seen.select(
            F.sum(
                F.xxhash64("epoch", "url_key").cast("decimal(38,0)")
            ).alias("d")
        ).first().d
        return series, rows, int(digest)

    full = run("full")
    assert run("mor") == full


def test_auto_mode_policy(spark, tmp_path, corpus):
    """'auto' (the default) commits full rewrites below
    frontier_mor_min_rows and switches to MOR deltas above it."""
    from spider_man_spark.plans.state import MOR_META

    def layout_after_two_epochs(**kw):
        wd = str(tmp_path / f"wd_auto_{kw.get('frontier_mor_min_rows')}")
        cfg = CrawlConfig(
            workdir=wd, tokens_per_epoch=5, compact_every=0, **kw
        )
        job = CrawlJob(spark, cfg, corpus=corpus)
        job.insert_requests([f"http://h{i}.test/p/0" for i in range(4)])
        job.step()
        job.step()
        ep = job.store.last_epoch()
        d = os.path.join(wd, "frontier", f"e_{ep:05d}")
        return os.path.exists(os.path.join(d, MOR_META)), job

    # default threshold (4M) -> tiny crawl stays on full rewrites
    is_mor, _ = layout_after_two_epochs(frontier_mode="auto")
    assert not is_mor
    # threshold 1 (and churn guard off — a tiny crawl's churn fraction
    # is huge by construction) -> MOR deltas chosen, crawl progresses
    is_mor, job = layout_after_two_epochs(
        frontier_mode="auto", frontier_mor_min_rows=1,
        frontier_mor_max_churn=100.0,
    )
    assert is_mor
    assert job.store.read_snapshot("frontier", job.store.last_epoch(),
                                   FRONTIER_SCHEMA).count() > 0


def test_mor_pipeline_skip_drains(spark, tmp_path, corpus):
    """Pipeline-skipped rows LEFT the frontier (dropped without
    retry, producer/ets.ex:150): under MOR commits the tombstone must
    come from the PRE-pipeline scheduled set, or the skipped row is
    re-scheduled and re-skipped forever.  Also: a pipeline-errored row
    re-enters exactly once (leave + enter), not twice."""
    from spider_man_spark.operators.pipeline import skip_where

    def run(mode):
        cfg = CrawlConfig(
            workdir=str(tmp_path / f"wd_skip_{mode}"), tokens_per_epoch=20,
            frontier_mode=mode, frontier_mor_min_rows=1,
            frontier_mor_max_churn=100.0,
            pipelines=(
                lambda df: skip_where(
                    df, F.col("url").endswith("/p/1"), "blocked"
                ),
            ),
        )
        job = CrawlJob(spark, cfg, corpus=corpus)
        job.insert_requests(
            [f"http://h0.test/p/{i}" for i in range(4)]
        )
        series = []
        for _ in range(6):
            r = job.step()
            series.append((r.scheduled, r.frontier_size))
        rows = _snap_rows(job.store, job.store.last_epoch())
        return series, sorted(r[0] for r in rows)

    mor = run("mor")
    full = run("full")
    # both layouts agree on every epoch's (scheduled, size) AND the
    # final frontier keys — before the fix, MOR kept skipped rows
    # alive (sizes diverged within 2 epochs).  (p/1 may legitimately
    # reappear: parse re-discovers it as a link and admission
    # re-admits it once — identical under every layout.)
    assert mor == full


def test_resume_mid_mor_chain(spark, tmp_path, corpus):
    """Checkpoint/resume with a MOR delta chain on disk: a NEW
    CrawlJob over the same workdir continues the crawl and lands on
    the same final state as an uninterrupted run (the north-rule
    resumability requirement must hold for every commit layout)."""

    def digest(job):
        ep = job.store.last_epoch()
        seen = job.store.read_deltas("seen", ep)
        return int(
            seen.select(
                F.sum(
                    F.xxhash64("epoch", "url_key").cast("decimal(38,0)")
                ).alias("d")
            ).first().d
        )

    def cfg_for(tag):
        return CrawlConfig(
            workdir=str(tmp_path / tag), tokens_per_epoch=20,
            frontier_mode="auto", frontier_mor_min_rows=1,
            frontier_mor_max_churn=100.0, compact_every=0,
        )

    seeds = [f"http://h{i}.test/p/0" for i in range(4)]
    # uninterrupted: 5 epochs
    job_a = CrawlJob(spark, cfg_for("wd_uninterrupted"), corpus=corpus)
    job_a.insert_requests(seeds)
    for _ in range(5):
        job_a.step()

    # interrupted: 3 epochs, then a brand-new job resumes for 2 more
    job_b1 = CrawlJob(spark, cfg_for("wd_resumed"), corpus=corpus)
    job_b1.insert_requests(seeds)
    for _ in range(3):
        job_b1.step()
    assert job_b1.store._mor_meta(
        "frontier", job_b1.store.last_epoch()
    ) is not None  # the chain really is MOR at the cut point
    job_b2 = CrawlJob(spark, cfg_for("wd_resumed"), corpus=corpus)
    for _ in range(2):
        job_b2.step()

    assert job_b2.store.last_epoch() == job_a.store.last_epoch()
    assert digest(job_b2) == digest(job_a)
    fr_a = _snap_rows(job_a.store, job_a.store.last_epoch())
    fr_b = _snap_rows(job_b2.store, job_b2.store.last_epoch())
    assert fr_a == fr_b


def test_compact_snapshot_all_empty_chain(spark, tmp_path):
    """A chain of zero-churn MOR deltas with NO base (a drained or
    never-seeded frontier — exactly what a forced-mor crawl's
    compaction trigger sees after run_until_zero drains it) must fold
    without a crash: read_snapshot(None-schema) returns None there,
    and compact_snapshot used to hand that None to _safe_replace_dir."""
    store = StateStore(spark, str(tmp_path / "wd"))
    empty = _frontier_df(spark, [])
    store.write_mor_delta("frontier", empty, empty, 0, 0)
    store.write_mor_delta("frontier", empty, empty, 1, 0)
    assert store.compact_snapshot("frontier", 1) == 1
    assert _snap_rows(store, 1) == []
    # and the fold is idempotent on the surviving head
    assert store.compact_snapshot("frontier", 1) == 0
    assert _snap_rows(store, 1) == []


@pytest.mark.parametrize(
    "shape",
    [
        # global cap: over_cap rows are dropped from the schedule and —
        # in MOR mode — never written at all (they stay in the frontier
        # implicitly); the one need_losers=False branch the base
        # equivalence test does not reach
        dict(corpus=dict(n_hosts=5, pages_per_host=8, out_degree=3,
                         images_per_host=1),
             cfg=dict(tokens_per_epoch=10, max_per_epoch=12)),
        # text-only corpus (images_per_host=0) + a single deep host:
        # retries/dead-letter churn dominates the delta stream
        dict(corpus=dict(n_hosts=1, pages_per_host=40, out_degree=1,
                         images_per_host=0),
             cfg=dict(tokens_per_epoch=7)),
    ],
    ids=["global-cap", "text-only-deep"],
)
def test_crawl_equivalence_matrix(spark, tmp_path, shape):
    """mor/full whole-crawl equivalence over shapes the base test does
    not cover: the global per-epoch cap (MOR drops over-cap rows
    implicitly instead of requeueing them) and a text-only corpus."""

    c = make_corpus(spark, **shape["corpus"]).cache()
    try:
        def run(mode):
            cfg = CrawlConfig(
                workdir=str(tmp_path / f"wdm_{mode}"),
                frontier_mode=mode, compact_every=3, **shape["cfg"],
            )
            job = CrawlJob(spark, cfg, corpus=c)
            job.insert_requests(
                [f"http://h{i}.test/p/0"
                 for i in range(shape["corpus"]["n_hosts"])]
            )
            series = []
            for _ in range(6):
                r = job.step()
                series.append((r.scheduled, r.frontier_size))
            ep = job.store.last_epoch()
            seen = job.store.read_deltas("seen", ep)
            digest = seen.select(
                F.sum(
                    F.xxhash64("epoch", "url_key").cast("decimal(38,0)")
                ).alias("d")
            ).first().d
            return series, int(digest)

        full = run("full")
        assert full[0][0][0] > 0
        assert run("mor") == full
    finally:
        c.unpersist()


def test_rank_losers_equal_antijoin_keep(spark):
    """The two full-commit derivations agree row for row on a
    unique-key frontier: the rank's deferred side output (losers ∪
    crawl-delay-blocked, plus over-cap rows under a global cap) equals
    frontier_keep_rows (frontier minus disallowed minus scheduled) —
    {scheduled, losers, delayed, disallowed} partitions the frontier.
    This is what lets dedup-on crawls skip the full-frontier rank."""
    from spider_man_spark.builders import build_requests
    from spider_man_spark.functions.urls import canonicalize_frontier
    from spider_man_spark.operators.politeness import (
        frontier_keep_rows,
        schedule_epoch,
    )

    urls = (
        [f"http://a.io/p/{i}" for i in range(8)]  # 3 tokens: 5 losers
        + ["http://a.io/private/x"]  # robots-disallowed
        + [f"http://b.io/p/{i}" for i in range(3)]  # crawl-delay-blocked
        + [f"http://c.io/p/{i}" for i in range(2)]  # no robots row
    )
    frontier = canonicalize_frontier(
        spark.createDataFrame(build_requests(urls), FRONTIER_SCHEMA),
        n_shards=8,
    )
    robots = spark.createDataFrame(
        [("a.io", 0, 3, 0, ["/private"], 0),
         ("b.io", 5000, 3, 10_000, None, 0)],
        "host string, crawl_delay_ms int, tokens_per_epoch int, "
        "next_allowed_ts long, disallow_prefixes array<string>, epoch int",
    )
    cols = [f.name for f in FRONTIER_SCHEMA.fields]

    def rows(df):
        return sorted(df.select(*cols).collect(), key=lambda r: r.url_key)

    # without and with a global cap (over-cap rows join the losers)
    for max_per_epoch, n_sched in ((0, 5), (4, 4)):
        scheduled, deferred, disallowed = schedule_epoch(
            frontier, robots, 1000, tokens_default=3,
            max_per_epoch=max_per_epoch, need_losers=True,
        )
        keep = frontier_keep_rows(
            frontier, robots, scheduled.select("url_key")
        )
        got = rows(deferred)
        assert got == rows(keep)
        keys = {r.url_key for r in got}
        assert "http://a.io/private/x" not in keys
        assert {f"http://b.io/p/{i}" for i in range(3)} <= keys
        assert [r.url_key for r in disallowed.collect()] == [
            "http://a.io/private/x"
        ]
        assert scheduled.count() == n_sched
        assert len(keys) + n_sched + 1 == len(urls)


def test_frontier_keep_rows_plan_is_map_side(spark):
    """The anti-join keep branch must never sort, window, or
    hash-exchange the frontier: one scan-filter + one BROADCAST
    left-anti join.  This is the property that makes the non-MOR
    frontier commit O(|frontier|) streaming work with no
    full-frontier persist at 10^9 rows."""
    from spider_man_spark.operators.politeness import frontier_keep_rows

    fr = _frontier_df(spark, [(f"u{i}", i % 4) for i in range(100)])
    leave = fr.limit(10).select("url_key")
    kept = frontier_keep_rows(fr, None, leave, has_disallow=False)
    assert kept.count() == 90
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Window" not in plan and "Sort" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_dedup_off_falls_back_to_rank_commit(spark, tmp_path):
    """dedup=False frontiers can hold duplicate url_keys; the
    anti-join commit would drop every copy of a scheduled key, so the
    engine falls back to the rank-losers commit (empirically, the
    anti-join once diverged here: duplicate copies vanished
    unfetched).  The per-epoch series is pinned to what the rank
    commit produced when both derivations were still selectable."""
    c = make_corpus(
        spark, n_hosts=2, pages_per_host=6, out_degree=2,
        images_per_host=1,
    ).cache()
    try:
        cfg = CrawlConfig(
            workdir=str(tmp_path / "wd_ddoff"),
            tokens_per_epoch=2, dedup=False, frontier_mode="full",
        )
        job = CrawlJob(spark, cfg, corpus=c)
        job.insert_requests(["http://h0.test/p/0", "http://h1.test/p/0"])
        series = []
        for _ in range(5):
            r = job.step()
            series.append((r.scheduled, r.frontier_size))
        ep = job.store.last_epoch()
        fr = job.store.read_snapshot("frontier", ep, FRONTIER_SCHEMA)
        n_dups = fr.count() - fr.select("url_key").distinct().count()
        assert series == [(2, 8), (4, 12), (4, 17), (4, 13), (4, 20)]
        # duplicate url_keys actually arise in this shape — the
        # fallback is load-bearing, not vacuous
        assert n_dups == 6
    finally:
        c.unpersist()


def test_seed_records_size_and_tunes_epoch_one(spark, tmp_path, corpus):
    """The seed insert records the frontier size in the manifest (a
    fresh frontier is the n admitted rows; a later insert adds its n),
    so the first step() already sizes the shuffle width from it."""
    cfg = CrawlConfig(workdir=str(tmp_path / "wd_seed"), tokens_per_epoch=5)
    job = CrawlJob(spark, cfg, corpus=corpus)
    assert job.insert_requests(
        [f"http://h{i}.test/p/0" for i in range(3)]
    ) == 3
    assert job.store.manifest()["frontier_size"] == 3
    # one new key, one already seen
    assert job.insert_requests(
        ["http://h3.test/p/0", "http://h0.test/p/0"]
    ) == 1
    assert job.store.manifest()["frontier_size"] == 4
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "4")
        job.step()
        # max(8, 4 // 50_000): tuned, not the session's 4
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)
