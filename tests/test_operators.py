"""Operator unit tests: dedup/Bloom, politeness rank, retry split,
pipeline engine (duplicate_filter_test.exs / pipeline_test.exs
analogues)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spider_man_spark.builders import build_requests
from spider_man_spark.functions.urls import canonicalize_frontier
from spider_man_spark.operators import pipeline as P
from spider_man_spark.operators.dedup import (
    anti_join_seen,
    bloom_build,
    bloom_probe,
    build_seen_shards,
    dedup_candidates,
    intra_epoch_dedup,
)
from spider_man_spark.operators.politeness import rank_per_host, order_cols
from spider_man_spark.operators.retry import requeue_failures, split_fetch_results
from spider_man_spark.schemas import FRONTIER_SCHEMA, SEEN_SCHEMA


def _frontier(spark, urls, **kw):
    return canonicalize_frontier(
        spark.createDataFrame(build_requests(urls, **kw), FRONTIER_SCHEMA),
        n_shards=8,
    )


# ---------------- dedup ----------------

def test_duplicate_filter_first_wins(spark):
    """duplicate_filter_test.exs:14-26: first insert passes, second is
    dropped."""
    seen = spark.createDataFrame([], SEEN_SCHEMA)
    c1 = _frontier(spark, ["http://a.io/x", "http://a.io/x", "http://a.io/y"])
    out = dedup_candidates(c1, seen)
    assert sorted(r.url_key for r in out.collect()) == [
        "http://a.io/x", "http://a.io/y",
    ]
    # now with x in seen -> only new keys pass
    seen2 = spark.createDataFrame(
        [("http://a.io/x", 1, 0, 0)], SEEN_SCHEMA
    )
    out2 = dedup_candidates(c1, seen2)
    assert [r.url_key for r in out2.collect()] == ["http://a.io/y"]


def test_intra_epoch_dedup_deterministic_winner(spark):
    rows = build_requests(["http://a.io/x"], depth=5) + build_requests(
        ["http://a.io/x"], depth=1
    )
    df = canonicalize_frontier(
        spark.createDataFrame(rows, FRONTIER_SCHEMA), n_shards=8
    )
    out = intra_epoch_dedup(df).collect()
    assert len(out) == 1
    assert out[0].depth == 1  # min (priority, depth) wins


def test_bloom_no_false_negatives_and_low_fp():
    rng = np.random.default_rng(7)
    present = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    absent = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    bl = bloom_build(present, bits_per_item=16)
    assert bloom_probe(bl, present).all()  # zero false negatives
    fp = bloom_probe(bl, absent).mean()
    assert fp < 0.01  # 16 bits/item, k=7 -> ~0.03% expected


def test_bloom_dedup_equals_exact_dedup(spark):
    urls = [f"http://h{i % 5}.io/p/{i}" for i in range(200)]
    cand = _frontier(spark, urls)
    seen_rows = cand.limit(80).select(
        "url_key", "url_hash",
        F.pmod("url_hash", F.lit(64)).cast("int").alias("shard"),
        F.lit(0).alias("epoch"),
    )
    seen = spark.createDataFrame(seen_rows.collect(), SEEN_SCHEMA)
    exact = sorted(
        r.url_key for r in dedup_candidates(cand, seen).collect()
    )
    shards = build_seen_shards(seen, 64, n_bits=1 << 16)
    with_bloom = sorted(
        r.url_key
        for r in dedup_candidates(
            cand, seen, seen_shards=shards, n_shards=64
        ).collect()
    )
    assert with_bloom == exact


def test_seen_shards_incremental_merge_equals_full_build(spark):
    """OR-merging per-epoch delta filters equals building from the
    full seen table (the O(N)-per-epoch rebuild the merge replaces)."""
    import numpy as np

    from spider_man_spark.operators.dedup import (
        bloom_probe,
        merge_seen_shards,
    )

    urls = [f"http://h{i % 5}.io/p/{i}" for i in range(300)]
    cand = _frontier(spark, urls)
    all_seen = cand.select(
        "url_key", "url_hash",
        F.pmod("url_hash", F.lit(8)).cast("int").alias("shard"),
        F.lit(0).alias("epoch"),
    )
    d1 = all_seen.filter(F.col("url_hash") % 2 == 0)
    d2 = all_seen.filter(F.col("url_hash") % 2 != 0)
    full = {
        r.shard: bytes(r.bloom)
        for r in build_seen_shards(all_seen, 8, n_bits=1 << 14).collect()
    }
    merged_df = merge_seen_shards(
        build_seen_shards(d1, 8, n_bits=1 << 14, epoch=1),
        build_seen_shards(d2, 8, n_bits=1 << 14, epoch=2),
        epoch=2,
    )
    merged = {r.shard: bytes(r.bloom) for r in merged_df.collect()}
    assert merged == full
    # and probing the merged filters finds every key
    hashes = np.array([r.url_hash for r in all_seen.collect()], np.int64)
    for s, bl in merged.items():
        hs = hashes[(hashes % 8 + 8) % 8 == s]
        assert bloom_probe(bl, hs).all()


# ---------------- politeness ----------------

def test_two_phase_rank_equals_naive_rank(spark):
    urls = [f"http://h{i % 3}.io/p/{i}" for i in range(300)]
    df = _frontier(spark, urls).withColumn(
        "tokens_per_epoch", F.lit(7)
    )
    two_phase = sorted(
        r.url_key for r in rank_per_host(df, 7, rank_salts=4).collect()
    )
    w = Window.partitionBy("host").orderBy(*order_cols())
    naive = sorted(
        r.url_key
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    )
    assert two_phase == naive
    assert len(naive) == 21  # 3 hosts x 7 tokens


# ---------------- retry ----------------

def test_split_and_requeue(spark):
    rows = [
        ("k1", "http://a.io/1", "a.io", 200, 2),
        ("k2", "http://a.io/2", "a.io", 500, 2),
        ("k3", "http://a.io/3", "a.io", 404, 0),
        ("k4", "http://a.io/4", "a.io", 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "url_key string, url string, host string, status int, retries int"
    ).select(
        "*",
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority"),
        F.lit(None).cast("string").alias("flag"),
        F.lit(None).cast("map<string,string>").alias("options"),
    )
    ok, fail = split_fetch_results(df)
    assert [r.url_key for r in ok.collect()] == ["k1"]
    retry, dead = requeue_failures(fail, "downloader", epoch=3)
    got_retry = {r.url_key: r.retries for r in retry.collect()}
    assert got_retry == {"k2": 1, "k4": 0}
    dead_rows = dead.collect()
    assert len(dead_rows) == 1
    assert dead_rows[0].url_key == "k3"
    assert dead_rows[0].component == "downloader"
    assert dead_rows[0].reason == "status_404"
    assert dead_rows[0].retries == -1
    assert dead_rows[0].epoch == 3


# ---------------- pipeline engine ----------------

def test_pipeline_forms_and_chaining(spark):
    """pipeline_test.exs:75-134: callable and (callable, arg) stage
    forms chain in order."""
    df = spark.range(5).withColumnRenamed("id", "v")

    def add(df, n):
        return df.withColumn("v", F.col("v") + n)

    def double(df):
        return df.withColumn("v", F.col("v") * 2)

    out = P.run_pipeline(df, [(add, 10), double])
    ok, skipped, errored = P.split_statuses(out)
    assert sorted(r.v for r in ok.collect()) == [20, 22, 24, 26, 28]
    assert skipped.count() == 0 and errored.count() == 0


def test_pipeline_skip_and_error_short_circuit(spark):
    df = spark.range(6).withColumnRenamed("id", "v")
    stages = [
        lambda d: P.skip_where(d, F.col("v") < 2, "too small"),
        lambda d: P.fail_where(d, F.col("v") > 4, "too big"),
        lambda d: d.withColumn("v", F.col("v") * 10),
    ]
    ok, skipped, errored = P.split_statuses(P.run_pipeline(df, stages))
    # skipped rows kept their value (stage 3 only transforms... note:
    # column transforms apply to all rows; routing is via status)
    assert skipped.count() == 2
    assert errored.count() == 1
    assert errored.first()._reason == "too big"
    assert sorted(r.v for r in ok.collect()) == [20, 30, 40]


def test_pipeline_exception_catchall(spark):
    """A raising stage converts to per-row error status
    (pipeline.ex:30-38 rescue/catch)."""
    df = spark.range(3).withColumnRenamed("id", "v")

    def boom(d):
        raise RuntimeError("kaput")

    ok, skipped, errored = P.split_statuses(P.run_pipeline(df, [boom]))
    assert ok.count() == 0
    assert errored.count() == 3
    assert "kaput" in errored.first()._reason


def test_anti_join_seen_basic(spark):
    cand = _frontier(spark, ["http://a.io/1", "http://a.io/2"])
    seen = spark.createDataFrame([("http://a.io/1", 0, 0, 0)], SEEN_SCHEMA)
    assert [r.url_key for r in anti_join_seen(cand, seen).collect()] == [
        "http://a.io/2"
    ]


def test_flag_roundtrip_through_fetch(spark):
    """common_spider_test.exs:133-159 'flag transmit': the request flag
    reaches the response untouched (downloader.ex:35)."""
    from spider_man_spark.sources.fetch import stub_fetch
    from spider_man_spark.schemas import CORPUS_SCHEMA

    sched = _frontier(spark, ["http://a.io/x"], flag="my-flag")
    corpus = spark.createDataFrame(
        [("http://a.io/x", "a.io", 200, "text/html", bytearray(b"<html/>"),
          [], None, 0, None)],
        CORPUS_SCHEMA,
    )
    out = stub_fetch(sched, corpus).collect()
    assert len(out) == 1
    assert out[0].flag == "my-flag"
    assert out[0].status == 200


def test_stub_fetch_unpersisted_input_stays_lazy(spark):
    """stub_fetch counts the scheduled slice (to pick the broadcast
    split) only when it is persisted: an unpersisted input takes the
    shuffled-hash plan, and building that plan starts no Spark job.
    Both paths return the same rows, in-corpus and not-in-corpus."""
    from spider_man_spark.sources.fetch import stub_fetch
    from spider_man_spark.schemas import CORPUS_SCHEMA

    sched = _frontier(
        spark, ["http://a.io/x", "http://a.io/y", "http://a.io/missing"]
    )
    corpus = spark.createDataFrame(
        [(u, "a.io", 200, "text/html", bytearray(b"<html/>"), [], None, 0,
          None) for u in ("http://a.io/x", "http://a.io/y")],
        CORPUS_SCHEMA,
    )
    sc = spark.sparkContext
    group = "stub-fetch-lazy"
    sc.setJobGroup(group, "plan build only")
    try:
        lazy = stub_fetch(sched, corpus)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def rows(df):
        return sorted(df.collect(), key=lambda r: r.url_key)

    persisted = sched.persist()
    try:
        got = rows(lazy)
        assert got == rows(stub_fetch(persisted, corpus))
        assert [r.status for r in got] == [0, 200, 200]
    finally:
        persisted.unpersist()


def test_robots_disallow_and_global_cap(spark):
    """Disallow-prefix filtering + the max_per_epoch global cap (the
    GenStage demand analogue) in schedule_epoch."""
    from spider_man_spark.operators.politeness import schedule_epoch

    urls = [f"http://a.io/keep/{i}" for i in range(6)] + [
        f"http://a.io/private/{i}" for i in range(4)
    ]
    frontier = _frontier(spark, urls)
    robots = spark.createDataFrame(
        [("a.io", 0, 100, 0, ["/private"], 0)],
        "host string, crawl_delay_ms int, tokens_per_epoch int, "
        "next_allowed_ts long, disallow_prefixes array<string>, epoch int",
    )
    sched, deferred, disallowed = schedule_epoch(frontier, robots, 1000)
    got = sorted(r.url_key for r in sched.collect())
    assert len(got) == 6
    assert all("/keep/" in u for u in got)
    # permanently-disallowed rows leave via the disallowed side output
    # (dead-letter), NOT deferred — otherwise the frontier never drains
    assert deferred.count() == 0
    assert disallowed.count() == 4
    assert all("/private/" in r.url_key for r in disallowed.collect())
    # global cap: deterministic top-3 by (priority, depth, url_key)
    sched2, deferred2, _ = schedule_epoch(frontier, robots, 1000, max_per_epoch=3)
    got2 = [r.url_key for r in sched2.orderBy("url_key").collect()]
    assert got2 == sorted(got)[:3]
    assert deferred2.count() == 3


def test_global_cap_matches_naive_rank_without_single_partition(spark):
    """The salted two-phase global cap picks exactly the naive global
    top-k AND its physical plan has no single-partition exchange (the
    naive Window.orderBy funnels every row through ONE task)."""
    from spider_man_spark.operators.politeness import global_cap

    urls = [f"http://h{i % 7}.io/p/{i:04d}" for i in range(500)]
    frontier = _frontier(spark, urls).withColumn(
        "priority", (F.col("url_hash") % 3).cast("int")
    ).withColumn("depth", (F.col("url_hash") % 5).cast("int"))
    k = 37
    capped, over = global_cap(frontier, k)
    naive = (
        frontier.withColumn(
            "__g", F.row_number().over(Window.orderBy(*order_cols()))
        )
        .filter(F.col("__g") <= k)
        .drop("__g")
    )
    got = sorted(r.url_key for r in capped.collect())
    want = sorted(r.url_key for r in naive.collect())
    assert got == want
    assert over.count() == 500 - k
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_crawl_delay_window_blocks(spark):
    """next_allowed_ts in the future defers the whole host."""
    from spider_man_spark.operators.politeness import schedule_epoch

    frontier = _frontier(spark, ["http://a.io/1", "http://b.io/1"])
    robots = spark.createDataFrame(
        [("a.io", 500, 10, 5000, None, 0), ("b.io", 0, 10, 0, None, 0)],
        "host string, crawl_delay_ms int, tokens_per_epoch int, "
        "next_allowed_ts long, disallow_prefixes array<string>, epoch int",
    )
    sched, deferred, disallowed = schedule_epoch(frontier, robots, 1000)
    assert [r.host for r in sched.collect()] == ["b.io"]
    assert [r.host for r in deferred.collect()] == ["a.io"]
    assert disallowed.count() == 0


def test_parse_robots_bodies_exprs(spark):
    """robots.txt parsing (crawl-delay seconds -> ms incl. fractional,
    Disallow prefixes, case-insensitive, empty-Disallow dropped)."""
    from spider_man_spark.operators.politeness import parse_robots_bodies

    bodies = [
        ("a.io", b"User-agent: *\nCrawl-Delay: 0.1\nDisallow: /Priv\nDisallow: /tmp\n"),
        ("b.io", b"User-agent: *\ndisallow:\n"),          # allow-all marker
        ("c.io", b"User-agent: *\nCrawl-delay: 2\n"),
        ("d.io", b"garbage with no directives"),
    ]
    df = spark.createDataFrame(bodies, "host string, body binary")
    got = {r.host: r for r in parse_robots_bodies(df, epoch=5).collect()}
    assert got["a.io"].crawl_delay_ms == 100
    assert got["a.io"].disallow_prefixes == ["/Priv", "/tmp"]
    assert got["b.io"].crawl_delay_ms == 0
    assert got["b.io"].disallow_prefixes is None
    assert got["c.io"].crawl_delay_ms == 2000
    assert got["d.io"].crawl_delay_ms == 0
    assert all(r.epoch == 5 for r in got.values())


def test_rank_no_losers_windowgrouplimit_and_equality(spark):
    """MOR-regime scheduling (need_losers=False): identical scheduled
    set to the dual-output path, deferred=None, and the rank plan
    carries WindowGroupLimit — the map-side top-k pruning the losers
    contract otherwise blocks (the ranked frontier is also no longer
    persisted, so a 10^10-row MOR epoch never caches the unscheduled
    majority)."""
    from pyspark.sql import functions as F

    from spider_man_spark.operators.politeness import schedule_epoch

    fr = spark.range(20_000).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 8).cast("string"),
            F.lit(".test/p/"), F.col("id").cast("string"),
        ).alias("url_key"),
        F.concat(
            F.lit("http://h"), (F.col("id") % 8).cast("string"),
            F.lit(".test/p/"), F.col("id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"), (F.col("id") % 8).cast("string"), F.lit(".test")
        ).alias("host"),
        (F.col("id") % 32).cast("int").alias("host_salt"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority"),
        F.lit(3).alias("retries"),
        F.lit(None).cast("string").alias("flag"),
        F.lit(None).cast("map<string,string>").alias("options"),
    )
    s_nl, deferred, _ = schedule_epoch(
        fr, None, 0, tokens_default=50, need_losers=False
    )
    got = sorted(r.url_key for r in s_nl.collect())
    assert deferred is None
    plan = s_nl._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    s_l, d2, _ = schedule_epoch(
        fr, None, 0, tokens_default=50, need_losers=True
    )
    assert sorted(r.url_key for r in s_l.collect()) == got
    assert d2 is not None and d2.count() == 20_000 - len(got)
