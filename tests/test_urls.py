"""URL canonicalization contract (north_rule): lowercase host, strip
fragment & default port, sort query params; BaseUrl resolution mirrors
requester/requester.ex:51-54."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_man_spark.builders import build_requests
from spider_man_spark.functions.urls import (
    canonicalize_frontier,
    canonicalize_url,
    ua_select,
    url_host,
)
from spider_man_spark.schemas import FRONTIER_SCHEMA

CASES = [
    ("HTTP://Example.COM:80/a/b?z=1&a=2#frag", "http://example.com/a/b?a=2&z=1"),
    ("https://Example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a?b=2", "http://example.com/a?b=2"),
    ("http://h.com/p?c=3&b=2&a=1", "http://h.com/p?a=1&b=2&c=3"),
    ("not-a-url#frag", "not-a-url"),
    ("ftp://Host/X", "ftp://Host/X"),
]


def test_canonicalize_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], ["url"])
    got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
    assert got == [want for _, want in CASES]


def test_base_url_resolution(spark):
    df = spark.createDataFrame([("/path?b=1&a=2",), ("http://other.com/x",)], ["url"])
    got = [
        r[0]
        for r in df.select(
            canonicalize_url(F.col("url"), base_url="https://base.io")
        ).collect()
    ]
    assert got == ["https://base.io/path?a=2&b=1", "http://other.com/x"]


def test_host_extraction(spark):
    df = spark.createDataFrame([("https://A.B.com:8443/x?q=1",)], ["url"])
    assert df.select(url_host(F.col("url"))).first()[0] == "a.b.com"


def test_canonicalize_frontier_derives_all(spark):
    rows = build_requests(["HTTP://H.io:80/a#f", "http://h.io/a"])
    df = canonicalize_frontier(
        spark.createDataFrame(rows, FRONTIER_SCHEMA), n_shards=8
    )
    out = df.collect()
    # both canonicalize to the same key -> same hash/host/salt
    assert {r.url_key for r in out} == {"http://h.io/a"}
    assert {r.host for r in out} == {"h.io"}
    assert len({r.url_hash for r in out}) == 1
    assert all(0 <= r.host_salt < 8 for r in out)
    # custom keys are preserved, not overwritten by canonicalization
    rows2 = build_requests(["HTTP://H.io/b"], key="custom-key")
    out2 = canonicalize_frontier(
        spark.createDataFrame(rows2, FRONTIER_SCHEMA), n_shards=8
    ).first()
    assert out2.url_key == "custom-key"
    assert out2.url == "http://h.io/b"


def test_canonicalize_frontier_rejects_temp_column_clash(spark):
    """A caller column named like one of the pass's temp columns would
    be overwritten and dropped; the pass refuses it by name instead."""
    rows = build_requests(["http://h.io/a"])
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA).withColumn(
        "__path", F.lit("mine")
    )
    with pytest.raises(ValueError, match="__path"):
        canonicalize_frontier(df)


def test_ua_select_deterministic_and_in_list(spark):
    """Mirrors test/middleware/user_agent_test.exs: chosen UA is from
    the provided list; rebuild adds determinism per (key, epoch)."""
    uas = ("ua-a", "ua-b", "ua-c")
    df = spark.createDataFrame([(f"k{i}",) for i in range(30)], ["url_key"])
    got1 = [r[0] for r in df.select(ua_select(F.col("url_key"), 1, uas)).collect()]
    got2 = [r[0] for r in df.select(ua_select(F.col("url_key"), 1, uas)).collect()]
    assert got1 == got2
    assert set(got1) <= set(uas)
    assert len(set(got1)) > 1  # spreads across the list


def test_splash_rewrite_unwrap_roundtrip(spark):
    """splash_unwrap is the exact inverse of splash_rewrite (the
    requeue path depends on it to avoid double-wrapping retries)."""
    from spider_man_spark.functions.urls import splash_rewrite, splash_unwrap

    splash = "http://splash:8050/render.html"
    urls = [
        "http://a.io/p/1",
        "http://a.io/p/1?b=2&a=1",
        "http://a.io/p x/%20?q=a&b=c d",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    wrapped = df.select(
        "url", splash_rewrite(F.col("url"), splash).alias("w")
    )
    back = wrapped.select(
        "url", splash_unwrap(F.col("w"), splash).alias("u"),
    ).collect()
    for r in back:
        assert r.u == r.url
    # passthrough for non-splash urls
    out = df.select(splash_unwrap(F.col("url"), splash).alias("u")).collect()
    assert [r.u for r in out] == urls


def test_map_put_replaces_existing_key(spark):
    """map_put must replace, never duplicate (DUPLICATED_MAP_KEY guard
    for engine-injected option keys on retried rows)."""
    from spider_man_spark.operators.session import map_put

    df = spark.createDataFrame(
        [({"h:user-agent": "old", "x": "1"},), (None,)],
        "options map<string,string>",
    )
    once = df.select(
        map_put(F.col("options"), "h:user-agent", F.lit("new")).alias("o")
    )
    twice = once.select(map_put(F.col("o"), "h:user-agent", F.lit("new2")).alias("o"))
    rows = twice.collect()
    assert rows[0].o == {"h:user-agent": "new2", "x": "1"}
    assert rows[1].o == {"h:user-agent": "new2"}
