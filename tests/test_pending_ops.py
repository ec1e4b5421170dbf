"""Crash-safety of the multi-table driver ops (insert_requests /
retry_failed) and the round-5 state-store hardening.

The reference's engine mutates its ETS tables atomically inside one
GenServer call (engine.ex:218-244); here the same ops span several
parquet-dir rewrites plus a manifest update, so a pending-op manifest
marker brackets them and restore reconciles whatever subset landed
(plans/job.py:_reconcile_pending).  Also covered: manifest key
deletion, 6-digit MOR epoch tags, __shtmp/__old leftover cleanup, the
persisted-churn auto-policy gate, and the churn-volume compaction
triggers."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spider_man_spark.config import CrawlConfig
from spider_man_spark.plans.job import CrawlJob
from spider_man_spark.plans.state import MOR_META, StateStore
from spider_man_spark.schemas import FRONTIER_SCHEMA
from spider_man_spark.sources.corpus import make_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    return make_corpus(
        spark, n_hosts=4, pages_per_host=12, out_degree=2,
        images_per_host=1, hot_hosts=1,
    ).cache()


def _frontier_df(spark, rows):
    return spark.createDataFrame(
        [
            (uk, uk, f"h{hs}.test", hs, None, 0, 0, 3, None, None)
            for uk, hs in rows
        ],
        FRONTIER_SCHEMA,
    )


def test_manifest_commit_none_deletes(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "wd"))
    store.commit(epoch=3, frontier_size=10, pending_op="x")
    store.commit(frontier_size=None, pending_op=None, epoch=4)
    m = store.manifest()
    assert m["epoch"] == 4
    assert "frontier_size" not in m
    assert "pending_op" not in m


def test_retry_failed_crash_reconciles(spark, tmp_path, corpus):
    """Crash after the frontier rewrite but before the failed-delta
    rewrite: retried rows sit in BOTH tables.  Restore must anti-join
    them out of failed (else a repeat retry_failed duplicates
    url_keys, breaking MOR's unique-key tombstone assumption) and
    drop the now-skewed O(1) size chain."""
    c = make_corpus(spark, n_hosts=1, pages_per_host=40, out_degree=1,
                    images_per_host=1)
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), tokens_per_epoch=50,
                      max_retries=2)
    job = CrawlJob(spark, cfg, corpus=c)
    job.insert_requests(["http://h0.test/p/13"])  # j=13 -> status 500
    job.run_until_zero(max_epochs=8)
    assert job.failed().count() == 1

    # crash simulation: fail the FIRST rewrite of the failed table
    orig_rewrite = StateStore.rewrite

    def crashing_rewrite(self, kind, df, epoch):
        if kind == "failed":
            raise RuntimeError("simulated crash")
        return orig_rewrite(self, kind, df, epoch)

    StateStore.rewrite = crashing_rewrite
    try:
        with pytest.raises(RuntimeError):
            job.retry_failed()
    finally:
        StateStore.rewrite = orig_rewrite
    # mid-crash state: marker set, row in both frontier and failed
    assert job.store.manifest()["pending_op"] == "retry_failed"
    assert job.frontier().count() == 1
    assert job.failed().count() == 1

    # restore reconciles: failed loses the retried row, marker and
    # size chain are gone, and a repeat retry_failed is a clean no-op
    job2 = CrawlJob.load(spark, cfg.workdir, corpus=c, max_retries=2)
    m = job2.store.manifest()
    assert "pending_op" not in m
    assert "frontier_size" not in m
    assert job2.failed().count() == 0
    assert job2.frontier().count() == 1
    assert job2.retry_failed() == 0
    fr = job2.frontier()
    assert fr.count() == fr.select("url_key").distinct().count() == 1
    # and the crawl completes from the reconciled state
    job2.run_until_zero(max_epochs=8)


def test_insert_crash_backfills_seen(spark, tmp_path, corpus):
    """Crash after the frontier rewrite but before the seen rewrite:
    admitted rows sit in the frontier without seen rows — a re-seed
    would re-admit them (duplicate url_keys).  Restore backfills the
    missing seen rows so the re-seed dedups to 0."""
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), tokens_per_epoch=20)
    job = CrawlJob(spark, cfg, corpus=corpus)
    job.insert_requests(["http://h0.test/p/0"])

    orig_rewrite = StateStore.rewrite

    def crashing_rewrite(self, kind, df, epoch):
        if kind == "seen":
            raise RuntimeError("simulated crash")
        return orig_rewrite(self, kind, df, epoch)

    StateStore.rewrite = crashing_rewrite
    try:
        with pytest.raises(RuntimeError):
            job.insert_requests(["http://h1.test/p/0", "http://h2.test/p/0"])
    finally:
        StateStore.rewrite = orig_rewrite
    assert job.store.manifest()["pending_op"] == "insert_requests"
    assert job.frontier().count() == 3

    job2 = CrawlJob.load(spark, cfg.workdir, corpus=corpus)
    assert "pending_op" not in job2.store.manifest()
    # seen now covers every frontier key -> the replayed seed is a dup
    assert job2.insert_requests(
        ["http://h1.test/p/0", "http://h2.test/p/0"]
    ) == 0
    fr = job2.frontier()
    assert fr.count() == fr.select("url_key").distinct().count() == 3


def test_mor_epoch_tag_six_digits(spark, tmp_path):
    """_edir pads to a MINIMUM of 5 digits; at epoch >= 100000 the
    file-path epoch tag is 6 digits wide and a same-epoch
    leave/re-enter (retry) must still survive the tombstone join."""
    store = StateStore(spark, str(tmp_path / "wd"))
    store.write("frontier", _frontier_df(spark, [("a0", 0)]), 99_999)
    store.write_mor_delta(
        "frontier",
        _frontier_df(spark, [("a0", 0), ("b0", 1)]),
        _frontier_df(spark, [("a0", 0)]),
        100_000, prev_size=1,
    )
    rows = sorted(
        r.url_key
        for r in store.read_snapshot(
            "frontier", 100_000, FRONTIER_SCHEMA
        ).collect()
    )
    assert rows == ["a0", "b0"]


def test_leftover_tmp_dirs_cleaned(spark, tmp_path):
    """__shtmp leftovers (an older build's interrupted shard-selective
    write) are deleted, never rolled forward; a non-numeric e_*
    leftover must not crash prune_beyond."""
    wd = str(tmp_path / "wd")
    store = StateStore(spark, wd)
    store.write("frontier", _frontier_df(spark, [("a0", 0)]), 0)
    sh = os.path.join(wd, "frontier", "e_00001__shtmp")
    os.makedirs(sh)
    open(os.path.join(sh, "_SUCCESS"), "w").close()  # Spark finished
    # fresh store: recovery removes the tmp (it has no shards.json —
    # rolling it forward would read as a bogus full snapshot)
    store2 = StateStore(spark, wd)
    assert not os.path.exists(sh)
    # leftover __old whose rmtree failed: prune_beyond must not raise
    old = os.path.join(wd, "frontier", "e_00002__old")
    os.makedirs(old)
    store2.prune_beyond(0)
    assert store2._epochs("frontier", 10) == [0]
    shutil.rmtree(old, ignore_errors=True)


def test_churn_gate_survives_full_rewrites(spark, tmp_path, corpus):
    """auto policy with a zero churn tolerance: once an epoch records
    churn, the policy must stay on full rewrites instead of
    oscillating back to MOR whenever the previous epoch happened to be
    a full rewrite (whose MOR meta is absent)."""
    cfg = CrawlConfig(
        workdir=str(tmp_path / "wd"), tokens_per_epoch=10,
        frontier_mode="auto", frontier_mor_min_rows=1,
        frontier_mor_max_churn=0.0, compact_every=0,
    )
    job = CrawlJob(spark, cfg, corpus=corpus)
    job.insert_requests([f"http://h{i}.test/p/0" for i in range(4)])
    modes = [job.step().frontier_mode_used for _ in range(4)]
    # epoch 1 has no churn history -> MOR is allowed; every later
    # epoch sees the persisted churn chain and must settle on full
    assert modes[0] == "mor"
    assert modes[1:] == ["full"] * 3


def test_churn_volume_compaction_bounds_chain(spark, tmp_path, corpus):
    """frontier_compact_max_chain folds the MOR delta chain by length
    (compact_every=0): the epoch-dir count stays bounded and the crawl
    is row-equivalent to a full-rewrite control."""

    def run(**kw):
        wd = str(tmp_path / f"wd_{kw.get('frontier_mode')}"
                 f"_{kw.get('frontier_compact_max_chain', 'x')}")
        cfg = CrawlConfig(workdir=wd, tokens_per_epoch=20,
                          compact_every=0, **kw)
        job = CrawlJob(spark, cfg, corpus=corpus)
        job.insert_requests([f"http://h{i}.test/p/0" for i in range(4)])
        series = []
        for _ in range(6):
            r = job.step()
            series.append((r.scheduled, r.frontier_size))
        ep = job.store.last_epoch()
        rows = sorted(
            r.url_key
            for r in job.store.read_snapshot(
                "frontier", ep, FRONTIER_SCHEMA
            ).collect()
        )
        ndirs = len(job.store._epochs("frontier", ep))
        return series, rows, ndirs

    full = run(frontier_mode="full", frontier_compact_max_chain=0)
    mor = run(
        frontier_mode="mor", frontier_mor_max_churn=100.0,
        frontier_compact_max_chain=2,
    )
    assert mor[:2] == full[:2]
    # chain folds at length 2: never more than base + 2 deltas
    assert mor[2] <= 3
    # byte-volume trigger: 1 byte -> compacts after every epoch
    mor_b = run(
        frontier_mode="mor", frontier_mor_max_churn=100.0,
        frontier_compact_max_chain=0, frontier_compact_delta_bytes=1,
    )
    assert mor_b[:2] == full[:2]
    assert mor_b[2] <= 2


def test_insert_crash_after_seen_folds_bloom(spark, tmp_path, corpus):
    """Crash BETWEEN the seen rewrite and the seen_shards rewrite
    (bloom on): the seen delta is complete, so the old
    missing-rows-gated heal skipped the shard fold and the Bloom layer
    permanently lacked the seeded keys — Bloom-negative candidates
    bypass the exact anti-join and re-admit duplicate url_keys.
    Restore must OR-fold the epoch's seen delta unconditionally."""
    from spider_man_spark.builders import build_requests
    from spider_man_spark.functions.urls import canonicalize_frontier
    from spider_man_spark.operators.dedup import dedup_candidates
    from spider_man_spark.schemas import SEEN_SCHEMA

    cfg = CrawlConfig(
        workdir=str(tmp_path / "wd"), tokens_per_epoch=20,
        bloom_enabled=True, bloom_shards=4, bloom_shard_bits=1 << 12,
    )
    job = CrawlJob(spark, cfg, corpus=corpus)
    job.insert_requests(["http://h0.test/p/0"])

    orig_rewrite = StateStore.rewrite

    def crashing_rewrite(self, kind, df, epoch):
        if kind == "seen_shards":
            raise RuntimeError("simulated crash")
        return orig_rewrite(self, kind, df, epoch)

    StateStore.rewrite = crashing_rewrite
    try:
        with pytest.raises(RuntimeError):
            job.insert_requests(
                ["http://h1.test/p/0", "http://h2.test/p/0"]
            )
    finally:
        StateStore.rewrite = orig_rewrite
    assert job.store.manifest()["pending_op"] == "insert_requests"

    job2 = CrawlJob.load(
        spark, cfg.workdir, corpus=corpus,
        bloom_enabled=True, bloom_shards=4, bloom_shard_bits=1 << 12,
    )
    assert "pending_op" not in job2.store.manifest()
    # the production hazard path: the Bloom-prefiltered dedup the
    # crawl epoch runs.  A key the shards lack comes back
    # "definitely new" and bypasses the exact anti-join entirely.
    ep = job2.store.last_epoch()
    seen = job2.store.read_deltas("seen", ep, SEEN_SCHEMA)
    shards = job2.store.read_snapshot("seen_shards", ep)
    cand = canonicalize_frontier(
        spark.createDataFrame(
            build_requests(["http://h1.test/p/0", "http://h2.test/p/0"]),
            FRONTIER_SCHEMA,
        ),
        cfg.base_url,
        cfg.n_host_shards,
    )
    readmitted = dedup_candidates(
        cand, seen, seen_shards=shards, n_shards=cfg.bloom_shards
    )
    assert readmitted.count() == 0


def test_retry_heal_skipped_when_dedup_off(spark, tmp_path):
    """dedup=False: a failed URL can legitimately re-enter the
    frontier, so a crash mid-retry must NOT purge those failed records
    at restore (the heal's anti-join assumes key disjointness) — but
    the marker is still set, so the skewed O(1) size chain is still
    dropped and the marker cleared."""
    c = make_corpus(spark, n_hosts=1, pages_per_host=40, out_degree=1,
                    images_per_host=1)
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), tokens_per_epoch=50,
                      max_retries=2, dedup=False)
    job = CrawlJob(spark, cfg, corpus=c)
    job.insert_requests(["http://h0.test/p/13"])  # j=13 -> status 500
    job.run_until_zero(max_epochs=8)
    assert job.failed().count() == 1
    # the same URL legitimately re-enters the frontier (dedup off)
    assert job.insert_requests(["http://h0.test/p/13"]) == 1

    # crash AFTER the frontier rewrite, BEFORE the failed rewrite and
    # the size-chain commit: marker set, chain now stale
    orig_rewrite = StateStore.rewrite

    def crashing_rewrite(self, kind, df, epoch):
        if kind == "failed":
            raise RuntimeError("simulated crash")
        return orig_rewrite(self, kind, df, epoch)

    StateStore.rewrite = crashing_rewrite
    try:
        with pytest.raises(RuntimeError):
            job.retry_failed()
    finally:
        StateStore.rewrite = orig_rewrite
    assert job.store.manifest()["pending_op"] == "retry_failed"

    # restore: the failed deltas survive (no anti-join purge — the
    # failed url_key also legitimately sits in the frontier), the
    # marker is cleared, and the stale size chain is dropped so the
    # next epoch recounts instead of trusting a skewed O(1) value
    job2 = CrawlJob.load(spark, cfg.workdir, corpus=c, max_retries=2,
                         dedup=False)
    m = job2.store.manifest()
    assert "pending_op" not in m
    assert "frontier_size" not in m
    assert job2.failed().count() == 1
