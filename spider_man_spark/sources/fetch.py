"""Fetch stage — the Downloader/Requester analogue.

Two interchangeable fetchers with one output contract
(``FETCHED_SCHEMA`` columns appended to the scheduled rows):

* :func:`stub_fetch` — a *join against the corpus table* (the
  Requester.JustReturn analogue); deterministic, network-free, used by
  every test and bench.  URLs absent from the corpus behave like DNS
  failures (status 0, reason ``not_found``).
* :func:`http_fetch` — a real Arrow-batched HTTP fetcher
  (``mapInPandas``; one pooled session per partition = the Finch-pool
  analogue, finch.ex:7-9) with in-UDF bounded retry mirroring the
  reference's default Tesla retry middleware: delay 500 ms, factor 2,
  max_delay 4000 ms, max_retries 3, retry on status 400/500 or
  transport error (requester/requester.ex:64-76).  Gated behind an
  import-try; unit-tested with a fake transport (no network in this
  sandbox).

The request ``flag`` column round-trips to the response untouched
(component/downloader.ex:35 — exercised by the reference's
"flag transmit" test, common_spider_test.exs:133-159).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns carried from the frontier through the fetch.
_CARRY = ["url_key", "url", "host", "depth", "priority", "retries", "flag", "options"]

# Reference retry-middleware defaults (requester/requester.ex:64-76).
RETRY_DELAY_MS = 500
RETRY_MAX_DELAY_MS = 4000
RETRY_MAX_RETRIES = 3
RETRY_STATUSES = frozenset({400, 500})


def _fetched_projection() -> list:
    """The FETCHED output columns appended to the carried request
    columns — shared by both join strategies below so the two plans
    are column-for-column identical."""
    return [
        *_CARRY,
        F.coalesce(F.col("__status"), F.lit(0)).alias("status"),
        F.col("__ct").alias("content_type"),
        F.when(F.col("__set_cookie").isNotNull(),
               F.create_map(F.lit("set-cookie"), F.col("__set_cookie")))
        .otherwise(F.lit(None).cast("map<string,string>"))
        .alias("headers"),
        F.col("__body").alias("body"),
        # deterministic pseudo-latency for tps accounting
        (F.pmod(F.xxhash64("url"), F.lit(90)) + 10).alias("fetch_ms"),
    ]


def stub_fetch(scheduled: DataFrame, corpus: DataFrame) -> DataFrame:
    """Deterministic fetch = equi-join scheduled.url -> corpus.url.

    Join strategy (guide §3.1/§3.2 — broadcast the side that fits,
    never shuffle the heavy side): the corpus side carries the page
    BODIES, so any plan that exchanges it pays the epoch's largest
    shuffle (profiled: 7.6 GB written + read per epoch at the bench's
    disk-corpus scale shape — the single biggest stage of the crawl).
    The scheduled side is budget-bounded (per-host tokens x hosts), so
    when it is PERSISTED and its measured size fits a broadcast we
    split the left-outer into

    * ``corpus INNER JOIN broadcast(scheduled)`` — the corpus STREAMS
      (zero corpus-side exchange, zero scheduled-side exchange), and
    * ``scheduled LEFT ANTI corpus(url)`` — the not-in-corpus rows
      (status 0), a NARROW join that scans only the corpus url column
      (parquet column pruning / in-memory columnar batch pruning).

    which is row-identical to the left-outer (corpus urls unique or
    not — inner duplicates exactly where the outer would).  The
    decision is a RUNTIME row count of the (persisted) scheduled
    slice, not a config constant: at the 10^10 design point a
    scheduled slice over ``SPARK_GRAFT_FETCH_BC_ROWS`` (default 1.5M
    rows: request tuples are ~150-250 B, so the bound keeps the built
    HashedRelation under ~1 GB — inside the engine's 8-32 g driver
    envelope) falls back to the shuffled-hash plan below, which is
    the scale-honest strategy when BOTH sides are big.

    Precondition for the split: ``scheduled`` must be persisted (as
    ``run_epoch`` does).  The split reads it in three plans (count,
    inner join, anti join); an unpersisted, nondeterministic input
    could differ between them and the count would re-run its whole
    lineage eagerly.  So an unpersisted input takes the shuffled-hash
    plan, lazily — building the plan then starts no Spark job.
    """
    c = corpus.select(
        F.col("url").alias("__curl"),
        F.col("status").alias("__status"),
        F.col("content_type").alias("__ct"),
        F.col("body").alias("__body"),
        F.col("set_cookie").alias("__set_cookie"),
    )
    bc_max = int(os.environ.get("SPARK_GRAFT_FETCH_BC_ROWS", "1500000"))
    n_sched = None
    if bc_max > 0 and scheduled.is_cached:
        # materializes the scheduled persist (work the fetch join would
        # do anyway — the join then reads the cache); the count gates
        # the join strategy on the actual epoch budget
        n_sched = scheduled.count()
    if n_sched is not None and n_sched <= bc_max:
        sched = scheduled.select(*_CARRY)
        matched = c.join(
            F.broadcast(sched), sched["url"] == c["__curl"], "inner"
        ).select(*_fetched_projection())
        # null corpus-side columns typed FROM the corpus schema so the
        # union is exact whatever body/cookie types a caller's corpus
        # uses (tests inject string-bodied corpora)
        ctypes = {f.name: f.dataType for f in c.schema.fields}
        unmatched = sched.join(
            c.select("__curl"), sched["url"] == F.col("__curl"), "left_anti"
        )
        for col in ("__status", "__ct", "__set_cookie", "__body"):
            unmatched = unmatched.withColumn(
                col, F.lit(None).cast(ctypes[col])
            )
        unmatched = unmatched.select(*_fetched_projection())
        return matched.unionByName(unmatched)
    # shuffled-hash hint, build side = scheduled: the scheduled side
    # is budget-bounded (per-host tokens x hosts) while the corpus
    # side carries the page BODIES — a sort-merge join would re-SORT
    # the corpus side on every epoch (the cached corpus partitioning
    # satisfies the exchange but not the ordering).  Hash-building the
    # small side streams the heavy side through untouched (guide
    # §3.1); the planner falls back to sort-merge where build-left
    # outer SHJ is unsupported.
    joined = scheduled.select(*_CARRY).hint("shuffle_hash").join(
        c, scheduled["url"] == c["__curl"], "left"
    )
    return joined.select(*_fetched_projection())


def fetch_with_retry(
    transport: Callable[[str, dict[str, str]], tuple[int, str | None, bytes | None, dict[str, str]]],
    url: str,
    options: dict[str, str],
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[int, str | None, bytes | None, dict[str, str], int]:
    """Bounded in-UDF retry (distinct from frontier-level `retries`):
    returns (status, content_type, body, headers, attempts)."""
    delay = RETRY_DELAY_MS
    attempts = 0
    status, ct, body, headers = 0, None, None, {}
    while True:
        attempts += 1
        try:
            status, ct, body, headers = transport(url, options)
            err = status in RETRY_STATUSES
        except Exception:
            status, ct, body, headers, err = 0, None, None, {}, True
        if not err or attempts > RETRY_MAX_RETRIES:
            return status, ct, body, headers, attempts
        sleep(delay / 1000.0)
        delay = min(delay * 2, RETRY_MAX_DELAY_MS)


def proxy_auth(
    proxy: str | dict | tuple | None,
) -> tuple[str | None, dict[str, str]]:
    """Normalize a proxy spec into (proxy_url, extra_headers).

    Mirrors ``handle_proxy_option`` (finch.ex:74-112, basic-auth fold
    at 91-100): a bare URL passes through; ``{url, username, password}``
    (tuple or dict) folds ``proxy-authorization: Basic b64(user:pass)``
    into the connection headers."""
    if proxy is None:
        return None, {}
    if isinstance(proxy, str):
        return proxy, {}
    if isinstance(proxy, dict):
        url = proxy.get("url")
        user = proxy.get("username")
        password = proxy.get("password")
    else:
        url, user, password = (tuple(proxy) + (None, None))[:3]
    headers: dict[str, str] = {}
    if user is not None:
        import base64

        token = base64.b64encode(
            f"{user}:{password or ''}".encode()
        ).decode()
        headers["proxy-authorization"] = f"Basic {token}"
    return url, headers


def encode_query(url: str, options: dict[str, str] | None) -> str:
    """Fold ``q:*`` option keys into the request URL as query params.

    Mirrors the reference's ``Request.options`` ``query:`` support
    (struct/request.ex:5-8, handled by Tesla at requester/finch.ex:16-22).
    Keys are sorted for determinism; an existing query string is
    appended to with ``&``."""
    params = sorted(
        (k[2:], v) for k, v in (options or {}).items() if k.startswith("q:")
    )
    if not params:
        return url
    from urllib.parse import urlencode

    return url + ("&" if "?" in url else "?") + urlencode(params)


def fetch_batch(
    transport: Callable[..., tuple[int, str | None, bytes | None, dict[str, str]]],
    urls,
    options_list,
    pool_size: int = 32,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[list[int], list[str | None], list[bytes | None], list[dict[str, str]], list[int]]:
    """Fetch one Arrow batch of URLs CONCURRENTLY through a thread pool
    of ``pool_size`` workers, preserving input order.

    This is the Finch-pool analogue (finch.ex:7-9: 32 conns x 8 pools);
    round-2's serial per-batch loop collapsed per-partition throughput
    to 1/latency.  Each worker runs the bounded in-UDF retry
    (:func:`fetch_with_retry`), so a retry sleep only stalls its own
    slot, not the batch.  Returns column lists
    (statuses, content_types, bodies, headers, fetch_ms, done_ts_ms —
    the per-fetch completion wall time feeding the live per-host
    politeness tracker, streaming/live.stream_host_fetch_stats)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(url, options):
        t0 = time.monotonic()
        s, ct, body, h, _ = fetch_with_retry(
            transport, url, options or {}, sleep=sleep
        )
        return (
            s,
            ct,
            body,
            {str(k): str(v) for k, v in (h or {}).items()},
            int((time.monotonic() - t0) * 1000),
            int(time.time() * 1000),
        )

    workers = max(1, int(pool_size))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        results = list(ex.map(one, urls, options_list))
    statuses = [r[0] for r in results]
    cts = [r[1] for r in results]
    bodies = [r[2] for r in results]
    hdrs = [r[3] for r in results]
    ms = [r[4] for r in results]
    done_ts = [r[5] for r in results]
    return statuses, cts, bodies, hdrs, ms, done_ts


def http_fetch(
    scheduled: DataFrame,
    timeout_s: float = 10.0,
    pool_size: int = 32,
    proxy: str | dict | tuple | None = None,
) -> DataFrame:
    """Real HTTP fetch via mapInPandas (requires urllib3; unavailable
    networks surface as status 0 rows, never exceptions).  ``proxy``
    mirrors the reference's proxy conn_opts incl. basic-auth
    (finch.ex:74-112); ``q:*`` option keys become URL query params
    (struct/request.ex:5-8).  Requests within each Arrow batch run
    concurrently on ``pool_size`` threads (finch.ex:7-9)."""
    proxy_url, proxy_headers = proxy_auth(proxy)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            import urllib3

            if proxy_url:
                pool = urllib3.ProxyManager(
                    proxy_url, maxsize=pool_size,
                    timeout=urllib3.Timeout(total=timeout_s),
                    proxy_headers=proxy_headers or None,
                )
            else:
                pool = urllib3.PoolManager(
                    maxsize=pool_size, timeout=urllib3.Timeout(total=timeout_s)
                )

            def transport(url, options):
                method = (options or {}).get("method", "get").upper()
                headers = {
                    k[2:]: v for k, v in (options or {}).items() if k.startswith("h:")
                }
                r = pool.request(
                    method,
                    encode_query(url, options),
                    headers=headers,
                    retries=False,
                )
                return (
                    r.status,
                    r.headers.get("Content-Type"),
                    r.data,
                    dict(r.headers),
                )
        except ImportError:  # pragma: no cover - sandbox has no urllib3 use
            def transport(url, options):
                raise ConnectionError("urllib3 unavailable")

        for pdf in batches:
            out = {k: pdf[k].values for k in _CARRY}
            statuses, cts, bodies, hdrs, ms, done_ts = fetch_batch(
                transport, pdf["url"].values, pdf["options"].values, pool_size
            )
            res = pd.DataFrame(out)
            res["status"] = pd.array(statuses, dtype="int32")
            res["content_type"] = cts
            res["headers"] = hdrs
            res["body"] = bodies
            res["fetch_ms"] = pd.array(ms, dtype="int64")
            res["fetched_at_ms"] = pd.array(done_ts, dtype="int64")
            yield res

    schema = (
        "url_key string, url string, host string, depth int, priority int, "
        "retries int, flag string, options map<string,string>, status int, "
        "content_type string, headers map<string,string>, body binary, "
        "fetch_ms long, fetched_at_ms long"
    )
    return scheduled.select(*_CARRY).mapInPandas(_run, schema=schema)
