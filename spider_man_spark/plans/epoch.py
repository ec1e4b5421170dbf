"""One crawl epoch as a deterministic DataFrame job.

The reference's hot path (SURVEY.md §3.2) per event: pull -> dedup ->
rate-limit -> fetch -> parse -> store -> ack, across three actor
stages with ETS queues between them.  One epoch fuses the same path
over a *batch*:

  frontier -> canonicalize (codegen exprs) -> politeness schedule
  (two-phase window rank) -> fetch (corpus join / Arrow UDF) ->
  split ok|fail -> parse (exprs + Arrow decode) -> admit new requests
  (dedup anti-join vs seen) -> commit epoch outputs.

The parse->frontier feedback edge (component/spider.ex:70) closes in
the *driver* between epochs — the cycle cannot live inside one
Catalyst plan, and this is the reason the engine is a micro-batch
epoch loop rather than a Structured Streaming query (SURVEY.md §2.5).

Determinism: the epoch clock is virtual (epoch_ts = epoch x epoch_ms),
ordering follows the (priority, depth, url_key) contract, and every
operator here is deterministic — so the sequence of (epoch, url_key)
fetches is identical across runs and across parallelism levels.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from spider_man_spark.config import CrawlConfig
from spider_man_spark.functions.urls import canonicalize_frontier
from spider_man_spark.operators.dedup import dedup_candidates, intra_epoch_dedup
from spider_man_spark.operators.politeness import advance_robots, schedule_epoch
from spider_man_spark.operators.retry import requeue_failures, split_fetch_results
from spider_man_spark.operators.session import (
    harvest_cookies,
    inject_cookie_header,
    map_put,
    merge_sessions,
)
from spider_man_spark.sources.fetch import stub_fetch
from spider_man_spark.sources.parse import custom_parse, default_parse
from spider_man_spark.schemas import (
    FAILED_SCHEMA,
    FRONTIER_SCHEMA,
    ITEMS_SCHEMA,
    METRICS_SCHEMA,
    SEEN_SCHEMA,
)


@dataclass
class EpochResult:
    epoch: int
    scheduled: int = 0
    fetched_ok: int = 0
    fetch_fail: int = 0
    new_requests: int = 0
    items: int = 0
    item_fail: int = 0
    dead: int = 0
    frontier_size: int = 0
    # whether the committed robots table carries any disallow rules —
    # lets the next epoch skip the disallowed-branch bookkeeping
    has_disallow: bool = True
    # commit layout the frontier write actually used ("full" | "mor")
    # — cfg "auto" resolves per epoch before the write
    frontier_mode_used: str = "full"
    # max(tokens_per_epoch) observed on this epoch's robots write —
    # rides the manifest so the next epoch's scheduler gets its
    # WindowGroupLimit cap without a standalone agg job
    robots_tokens_cap: int | None = None
    # enter+leave row churn of this epoch's frontier commit: exact in
    # MOR mode (delta meta), scheduled+admitted estimate otherwise.
    # Persisted in the manifest so the auto policy's churn gate
    # survives full-rewrite epochs instead of resetting to "unknown"
    # (which let a persistently-high-churn frontier oscillate
    # mor/full every other epoch)
    frontier_churn: int | None = None
    durations_ms: dict[str, int] = field(default_factory=dict)

    @property
    def is_zero(self) -> bool:
        return self.scheduled == 0 and self.frontier_size == 0


def _resolve_frontier_mode(
    store, cfg, prev: int, frontier
) -> tuple[str, int | None]:
    """Resolve cfg.frontier_mode ("auto" -> "mor"/"full" per the
    config-docstring policy) BEFORE scheduling: the MOR regime never
    materializes the rank-losers branch, so knowing the mode up front
    lets the scheduler skip the full ranked-frontier persist and take
    the WindowGroupLimit plan (rank_split_per_host need_losers=False).
    Returns (mode, prev_size) — prev_size is the O(1) chain value
    when available (None means the commit path re-counts once)."""
    frontier_mode = cfg.frontier_mode
    prev_size = None
    # the O(1) size chain is mode-independent (job.step records
    # frontier_size in the manifest every epoch) — full commits use
    # it to bound the anti-join broadcast decision
    man = store.manifest()
    if int(man.get("epoch", -1)) == prev and "frontier_size" in man:
        prev_size = int(man["frontier_size"])
    if prev_size is None and frontier_mode in ("auto", "mor"):
        prev_size = store.snapshot_size_fast("frontier", prev)
    if frontier_mode == "auto":
        # per-epoch policy (see config docstring): MOR only when the
        # avoided full rewrite dwarfs MOR's fixed read-assembly
        # latency — large frontier, low churn fraction, dedup on
        if prev_size is None:
            prev_size = frontier.count()
        # last epoch's churn comes from the manifest (persisted by
        # job.step regardless of commit mode); the MOR delta meta is
        # only the fallback for pre-churn-chain checkpoints
        man = store.manifest()
        man_churn = None
        if int(man.get("epoch", -1)) == prev and "frontier_churn" in man:
            man_churn = int(man["frontier_churn"])
        if man_churn is None:
            meta_prev = store._mor_meta("frontier", prev)
            if meta_prev is not None:
                man_churn = int(meta_prev["n_enter"]) + int(
                    meta_prev["n_leave"]
                )
        churn_ok = (
            man_churn is None
            or man_churn <= cfg.frontier_mor_max_churn * max(prev_size, 1)
        )
        frontier_mode = (
            "mor"
            if (
                cfg.dedup
                and prev_size >= cfg.frontier_mor_min_rows
                and churn_ok
            )
            else "full"
        )
    return frontier_mode, prev_size


def _obs_get(obs, fallback, key: str = "n") -> int:
    """Read an Observation metric; fall back to running ``fallback()``
    (a count on the cached frame) if the metrics row is unavailable —
    observe + persist + AQE occasionally loses the row on exotic plans
    (e.g. statically-empty branches)."""
    try:
        return int(obs.get[key])
    except Exception:  # noqa: BLE001 - deliberate safety net
        return int(fallback())


def _seen_rows(admitted: DataFrame, n_shards: int, epoch: int) -> DataFrame:
    return admitted.select(
        "url_key",
        "url_hash",
        F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard"),
        F.lit(epoch).cast("int").alias("epoch"),
    )


def run_epoch(
    store,
    cfg: CrawlConfig,
    epoch: int,
    corpus: DataFrame | None = None,
    fetcher=None,
    suspended: set[str] | None = None,
    sink=None,
) -> EpochResult:
    """Execute epoch N: read state at N-1, commit state at N.

    ``fetcher(scheduled) -> fetched`` defaults to the corpus-join stub.
    ``suspended`` may contain component names ('downloader', 'spider',
    'item_processor') — that stage is skipped and its input parked in a
    pending table (the per-component suspend/continue of
    engine.ex:145-191).
    """
    spark = store.spark
    suspended = suspended or set()
    prev = epoch - 1
    epoch_ts = epoch * cfg.epoch_ms
    res = EpochResult(epoch=epoch)
    t_all = time.monotonic()

    def _label(phase: str) -> None:
        # guide §1.5: label jobs so profiles/the UI attribute wall time
        # to epoch phases — a thread-local property set, no job cost
        spark.sparkContext.setJobDescription(f"epoch {epoch}: {phase}")

    frontier = store.read_snapshot("frontier", prev, FRONTIER_SCHEMA)
    seen = store.read_deltas("seen", prev, SEEN_SCHEMA)
    robots = store.read_snapshot("robots", prev)
    session = store.read_snapshot("session", prev) if cfg.cookies else None
    seen_shards = (
        store.read_snapshot("seen_shards", prev) if cfg.bloom_enabled else None
    )

    # ---- downloader stage: schedule + fetch ----
    t0 = time.monotonic()
    _label("downloader")
    disallowed = None
    # robots carried disallow rules as of the last commit (observed on
    # the robots write, so a clean crawl pays zero per-epoch cost here)
    _man = store.manifest()
    has_disallow = bool(_man.get("has_disallow", True))
    # scheduler token cap carried from the previous robots-write
    # observation (valid only if that manifest entry is this crawl's
    # previous epoch)
    man_tokens_cap = (
        int(_man["robots_tokens_cap"])
        if int(_man.get("epoch", -1)) == prev
        and _man.get("robots_tokens_cap")
        else None
    )
    sched_caches: list[DataFrame] = []
    # commit mode resolved BEFORE scheduling: the MOR regime never
    # consumes the rank-losers/deferred branch (un-scheduled rows stay
    # in the frontier implicitly), so the scheduler can skip the
    # full-frontier rank persist and run the WindowGroupLimit plan
    frontier_mode, prev_size = _resolve_frontier_mode(
        store, cfg, prev, frontier
    )
    # losers are materialized ONLY for a dedup=False full commit: MOR
    # never writes unscheduled rows, and with dedup on (unique
    # url_keys) the full commit derives them by subtraction — both
    # run the WindowGroupLimit rank with no full-frontier persist.
    # Without dedup the anti-join would remove EVERY copy of a
    # scheduled url_key, dropping unscheduled duplicate copies the
    # rank keeps as losers (the same unique-key assumption MOR's
    # tombstones validate against at config time)
    need_losers = frontier_mode != "mor" and not cfg.dedup
    if "downloader" in suspended:
        scheduled = spark.createDataFrame([], FRONTIER_SCHEMA)
        deferred = frontier
    else:
        scheduled, deferred, disallowed = schedule_epoch(
            frontier,
            robots,
            epoch_ts,
            tokens_default=cfg.tokens_per_epoch,
            rank_salts=cfg.rank_salts,
            max_per_epoch=cfg.max_per_epoch,
            # (need_losers only) the ranked frontier is persisted
            # and reused by BOTH the scheduled branch (materializes
            # during fetch) and the rank-losers branch of the frontier
            # write — without it the write reruns the full-frontier
            # rank (the largest epoch fixed cost, measured 5-16 s at
            # the bench shapes)
            caches=sched_caches,
            need_losers=need_losers,
            tokens_cap=man_tokens_cap,
        )
        if not has_disallow:
            disallowed = None
        elif disallowed is not None:
            # the disallowed branch has up to three consumers per epoch
            # (dead-letter write, MOR leave tombstones, count
            # observation) and each would otherwise re-run its lineage
            # — a FULL frontier scan + robots join + disallow regex
            # (profiled: the 'write failed' job alone paid ~1.1 s per
            # epoch re-deriving it).  The result is tiny (usually zero
            # rows), so persist it and let every consumer read the
            # cache.
            disallowed = disallowed.persist(StorageLevel.MEMORY_AND_DISK)
            sched_caches.append(disallowed)
    if cfg.cookies:
        scheduled = inject_cookie_header(scheduled, session)
    if cfg.user_agents:
        # S9 UserAgent middleware: seeded-hash UA per (url_key, epoch)
        from spider_man_spark.functions.urls import ua_select

        ua = ua_select(F.col("url_key"), epoch, cfg.user_agents)
        # map_put, not map_concat: retried rows come back with the
        # previous epoch's injected key still in options
        scheduled = scheduled.withColumn(
            "options", map_put(F.col("options"), "h:user-agent", ua)
        )
    if cfg.splash_url:
        # P6 Splash: rewrite the fetch URL to the JS-rendering endpoint
        from spider_man_spark.functions.urls import splash_rewrite

        scheduled = scheduled.withColumn(
            "url", splash_rewrite(F.col("url"), cfg.splash_url)
        )
    pre_retry = pre_dead = piped = None
    if cfg.pipelines:
        # P1/P8: user pre-pipelines over the scheduled batch; skiped
        # rows drop without retry (producer/ets.ex:150), errored rows
        # follow the ack path: retries-1 back to the frontier or the
        # dead-letter table (pipeline.ex error -> Message.failed)
        from spider_man_spark.operators.pipeline import run_pipeline, split_statuses

        piped = run_pipeline(scheduled, cfg.pipelines).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        scheduled, _skipped, errored = split_statuses(piped)
        pre_retry = errored.filter(F.col("retries") > 0).select(
            "url_key", "url", "host",
            F.lit(None).cast("int").alias("host_salt"),
            F.lit(None).cast("long").alias("url_hash"),
            "depth", "priority",
            (F.col("retries") - 1).alias("retries"),
            "flag", "options",
        )
        pre_dead = errored.filter(F.col("retries") <= 0).select(
            F.lit("downloader").alias("component"),
            "url_key", "url",
            F.lit(None).cast("string").alias("payload"),
            F.col("_reason").alias("reason"),
            (F.col("retries") - 1).alias("retries"),
            "depth", "priority", "flag", "options",
            F.lit(epoch).cast("int").alias("epoch"),
        )
    # scheduled count comes from an Observation during the first job
    # that materializes the persist — no standalone count action.
    # (Not attached on the suspended path: its statically-empty plan
    # gets PropagateEmptyRelation'd and the metrics node vanishes.)
    from pyspark.sql import Observation

    run_fetch = "downloader" not in suspended
    obs_sched = None
    if run_fetch:
        obs_sched = Observation()
        scheduled = scheduled.observe(obs_sched, F.count(F.lit(1)).alias("n"))
    scheduled = scheduled.persist(StorageLevel.MEMORY_AND_DISK)
    fetched_level = getattr(StorageLevel, cfg.fetched_storage)
    post_piped = post_retry = post_dead = None
    if run_fetch:
        if fetcher is not None:
            fetched = fetcher(scheduled)
        else:
            if corpus is None:
                raise ValueError("corpus required for stub fetch")
            fetched = stub_fetch(scheduled, corpus)
        if cfg.post_pipelines:
            # post-pipelines over %{request, env} (downloader.ex:38-41);
            # errored rows follow the ack path like pre-pipeline errors
            # (a downloader pipeline error fails the message in the
            # reference: retries-1 back to the source or dead-letter)
            from spider_man_spark.operators.pipeline import (
                REASON,
                run_pipeline,
                split_statuses,
            )

            post_piped = run_pipeline(fetched, cfg.post_pipelines).persist(
                fetched_level
            )
            fetched, _sk, post_err = split_statuses(post_piped)
            post_retry, post_dead = requeue_failures(
                post_err.drop("_status"), "downloader", epoch,
                reason=F.col(REASON),
            )
        # one Observation yields ok/fail/dead counts as a side effect
        # of the first action that materializes the fetched cache — no
        # separate count jobs
        from pyspark.sql import Observation

        obs_fetch = Observation()
        fetched = fetched.observe(
            obs_fetch,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when((F.col("status") >= 200) & (F.col("status") <= 299), 1)).alias("ok"),
            F.count(
                F.when(
                    ~((F.col("status") >= 200) & (F.col("status") <= 299))
                    & (F.col("retries") <= 0),
                    1,
                )
            ).alias("dead"),
        )
        fetched = fetched.persist(fetched_level)
        ok_now, failed = split_fetch_results(fetched)
        retry_rows, dead = requeue_failures(failed, "downloader", epoch)
    else:
        fetched = None
        obs_fetch = None
        ok_now = None
        retry_rows = dead = None
    if cfg.stage_timing and fetched is not None:
        # timed barrier: materialize the fetched cache INSIDE the
        # downloader window so the stamped duration is execution time
        # (schedule + fetch), not lazy-plan construction time
        fetched.count()
    res.durations_ms["downloader"] = int((time.monotonic() - t0) * 1000)

    # ---- spider stage: parse (with pending from suspended epochs) ----
    t0 = time.monotonic()
    _label("spider")
    pending_fetched = store.read_snapshot("pending_fetched", prev)
    parse_input = None
    if ok_now is not None:
        parse_input = ok_now
    if pending_fetched is not None:
        parse_input = (
            pending_fetched
            if parse_input is None
            # allowMissingColumns: a pending snapshot parked by a
            # different fetcher (DynamicFinch hot-swap) may lack
            # fetcher-specific columns like fetched_at_ms
            else parse_input.unionByName(
                pending_fetched, allowMissingColumns=True
            )
        )

    new_requests = items = None
    parked_fetched = None
    if parse_input is not None:
        if "spider" in suspended:
            parked_fetched = parse_input
        else:
            handle = cfg.callbacks.get("handle_response")
            if handle is not None:
                pinput, sf_items = parse_input, None
                if cfg.save_to_file:
                    # SaveToFile around a custom spider
                    # (save_to_file.ex:32-49): both flags store their
                    # bytes as items; _and_skip halts before the
                    # spider; plain save2file continues to
                    # handle_response with url rewritten to the path
                    from spider_man_spark.sources.parse import (
                        items_from_images,
                        saved_url,
                    )

                    flagged = parse_input.filter(
                        F.col("flag").isin("save2file", "save2file_and_skip")
                    )
                    sf_items = items_from_images(flagged, epoch)
                    pinput = parse_input.filter(
                        F.col("flag").isNull()
                        | (F.col("flag") != "save2file_and_skip")
                    ).withColumn(
                        "url",
                        F.when(
                            F.col("flag") == "save2file",
                            saved_url(F.col("url_key"), cfg.save_to_file),
                        ).otherwise(F.col("url")),
                    )
                new_requests, items = custom_parse(pinput, handle, epoch)
                if sf_items is not None:
                    items = (
                        sf_items if items is None
                        else items.unionByName(sf_items)
                    )
            else:
                new_requests, items = default_parse(
                    parse_input, epoch, save_dir=cfg.save_to_file
                )

    # ---- admit new requests: canonicalize + dedup vs seen ----
    # Pre-collapse candidates on the RAW url before canonicalize: link
    # extraction emits the same target many times (the bench graph
    # averages ~7-9 occurrences per distinct url, real link graphs are
    # worse), and canonicalize is the admit path's dominant per-row
    # compute (~9 regex evals + 2 hashes per row — measured 14 s per
    # 5.6M rows at 32 threads).  Grouping by the raw string first runs
    # that pipeline once per DISTINCT url and shrinks the downstream
    # url_key dedup exchange by the same factor.  Winner-equivalent:
    # every raw url maps to exactly one url_key, so the per-key min
    # over stage-1 winners is the per-key min over all rows (the
    # ordering struct (priority, depth, url, retries) is constant
    # across copies of one raw url in its url components).
    if new_requests is not None:
        new_requests = intra_epoch_dedup(new_requests)
    if new_requests is not None and cfg.dedup:
        cand = canonicalize_frontier(
            new_requests, cfg.base_url, cfg.n_host_shards
        )
        admitted = dedup_candidates(
            cand, seen, seen_shards=seen_shards, n_shards=cfg.bloom_shards
        ).persist(StorageLevel.MEMORY_AND_DISK)
    elif new_requests is not None:
        admitted = intra_epoch_dedup(
            canonicalize_frontier(new_requests, cfg.base_url, cfg.n_host_shards)
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        admitted = None
    stage_items_cache = None
    if cfg.stage_timing:
        # timed barrier: parse + canonicalize + dedup execute here
        # (fetched reads back from its stage-1 cache)
        if admitted is not None:
            admitted.count()
        elif items is not None:
            items = stage_items_cache = items.persist(
                StorageLevel.MEMORY_AND_DISK
            )
            items.count()
    res.durations_ms["spider"] = int((time.monotonic() - t0) * 1000)

    # ---- item-processor stage ----
    t0 = time.monotonic()
    parked_items = store.read_snapshot("pending_items", prev)
    items_all = items
    if parked_items is not None:
        items_all = (
            parked_items if items_all is None else items_all.unionByName(parked_items)
        )
    write_items = cfg.storage is not False and "item_processor" not in suspended
    res.durations_ms["item_processor"] = 0

    # ---- commit epoch N ----
    def _requeue_rows(rows: DataFrame) -> DataFrame:
        # retried rows persist back into the frontier: un-wrap any
        # splash rewrite first (the reference stores the *request*, so
        # a retry must not get splash-wrapped a second time next epoch)
        if cfg.splash_url:
            from spider_man_spark.functions.urls import splash_unwrap

            rows = rows.withColumn(
                "url", splash_unwrap(F.col("url"), cfg.splash_url)
            )
        return canonicalize_frontier(rows, cfg.base_url, cfg.n_host_shards)

    # frontier' = deferred ∪ retries ∪ admitted.  requeue = the rows
    # ENTERING the frontier this epoch (retries + admitted) — the MOR
    # commit writes exactly these; deferred exists only when the
    # commit mode needs it (need_losers)
    requeue: list[DataFrame] = []
    for retry_part in (retry_rows, pre_retry, post_retry):
        if retry_part is not None:
            requeue.append(_requeue_rows(retry_part))
    if admitted is not None:
        requeue.append(
            admitted.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )
    # leavers = the PRE-pipeline scheduled rows, shared by both
    # commit derivations below (anti-join keep set, MOR tombstones):
    # pipelines drop skipped rows (no retry, producer/ets.ex:150) and
    # split out errored rows AFTER scheduling, but every
    # originally-scheduled row left the frontier — `piped` (the
    # persisted pre-split pipeline output)
    # carries exactly that set; using the post-pipeline `scheduled`
    # would resurrect skipped rows forever and double-insert errored
    # retries
    leavers = piped if piped is not None else scheduled
    frontier_next = None
    if deferred is not None:
        # rank-losers side outputs (dedup=False), or the
        # suspended-downloader epoch (deferred = whole frontier)
        frontier_next = deferred.select(
            *[f.name for f in FRONTIER_SCHEMA.fields]
        )
        for p in requeue:
            frontier_next = frontier_next.unionByName(p)
    elif frontier_mode != "mor":
        # anti-join commit (dedup on): keep = frontier minus the
        # disallow predicate minus an anti-join on the scheduled
        # url_keys.  The leave side is budget-bounded and reads from
        # the persisted piped/scheduled cache, so the whole branch is
        # map-side — no full-frontier rank persist.  Broadcast
        # only under a KNOWN O(1) bound (manifest size chain /
        # global cap — mirrors the MOR read path's key guard);
        # otherwise AQE's runtime stats pick the strategy.
        from spider_man_spark.operators.politeness import (
            frontier_keep_rows,
        )
        from spider_man_spark.plans.state import _MOR_BROADCAST_MAX_KEYS

        bounds = [b for b in (cfg.max_per_epoch, prev_size) if b]
        frontier_next = frontier_keep_rows(
            frontier, robots, leavers.select("url_key"),
            has_disallow=has_disallow,
            broadcast_hint=bool(bounds)
            and min(bounds) <= _MOR_BROADCAST_MAX_KEYS,
        ).select(*[f.name for f in FRONTIER_SCHEMA.fields])
        for p in requeue:
            frontier_next = frontier_next.unionByName(p)
    # NOTE: no repartition before the write — the next epoch's
    # politeness window hashes by (host, url-salt), which no stored
    # layout can satisfy, so an extra exchange here would buy nothing
    # and costs a full frontier shuffle per epoch.  AQE coalescing
    # keeps output file counts sane.  (frontier_mode/prev_size were
    # resolved before scheduling — see _resolve_frontier_mode.)
    res.frontier_mode_used = frontier_mode
    _label("frontier-commit")
    if frontier_mode == "mor":
        # merge-on-read commit (what "auto" picks in the
        # large-frontier / low-churn regime): persist ONLY the churn —
        # entering rows (retries/admitted) and leaving url_keys
        # (scheduled/disallowed tombstones).  The rank-losers branch
        # is never materialized into a write at all: the unscheduled
        # majority costs this epoch nothing, which is the property a
        # 10^10-URL frontier at a bounded budget needs (the full
        # snapshot rewrite was the one remaining 100x-scale cost).
        # The enter write is the epoch's first materialization (fetch
        # + parse + dedup execute into the caches everything below
        # reuses).
        enters = None
        for p in requeue:
            enters = p if enters is None else enters.unionByName(p)
        leaves = None
        if "downloader" not in suspended:
            leaves = leavers.select("url_key")
            if disallowed is not None:
                leaves = leaves.unionByName(
                    disallowed.select("url_key")
                )
        if prev_size is None:
            # newest base is a plain full dir (fresh seed / restore /
            # compaction): one count re-seeds the O(1) size chain
            prev_size = frontier.count()
        if enters is None and leaves is None:
            res.frontier_size = prev_size
            res.frontier_churn = 0
        else:
            res.frontier_size = store.write_mor_delta(
                "frontier", enters, leaves, epoch, prev_size
            )
            meta_now = store._mor_meta("frontier", epoch)
            res.frontier_churn = int(meta_now["n_enter"]) + int(
                meta_now["n_leave"]
            )
    else:
        # observe the size during the write — no read-back job
        obs = Observation()
        frontier_next = frontier_next.observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        store.write("frontier", frontier_next, epoch)
        res.frontier_size = _obs_get(
            obs, lambda: store.read_snapshot("frontier", epoch).count()
        )

    # fetch-side counts are now observable (the frontier write above
    # materialized the fetched cache)
    if obs_fetch is not None:
        res.fetched_ok = _obs_get(obs_fetch, lambda: ok_now.count(), "ok")
        n_fetched = _obs_get(obs_fetch, lambda: fetched.count(), "n")
        res.fetch_fail = n_fetched - res.fetched_ok
        res.dead = _obs_get(obs_fetch, lambda: dead.count(), "dead")

    # state writes that only depend on already-materialized caches are
    # DEFERRED into one concurrent driver-thread pool at the end of the
    # epoch: each is an independent small-to-medium job whose stage
    # latency would otherwise sit on the sequential critical path
    deferred_writes: list[tuple[str, DataFrame]] = []
    if cfg.emit_fetch_events and fetched is not None:
        # live-monitor feed for the stateful per-host tracker
        # (streaming/live.stream_host_fetch_stats): one (host, ts_ms)
        # row per completed fetch, tailed by the file-stream source.
        # HTTP fetches carry a real per-fetch completion wall time
        # (fetched_at_ms from the fetch UDF); the corpus-stub fetcher
        # has no wall clock, so its rows fall back to the driver's
        # epoch timestamp — per-host totals stay exact, gap violations
        # degenerate to 0 within an epoch (documented monitor-only
        # semantics).  Reads the already-persisted fetched cache.
        now_ms = int(time.time() * 1000)
        ts = (
            F.coalesce(F.col("fetched_at_ms"), F.lit(now_ms))
            if "fetched_at_ms" in fetched.columns
            else F.lit(now_ms)
        )
        deferred_writes.append((
            "fetch_events",
            fetched.select(
                "host",
                ts.cast("long").alias("ts_ms"),
                F.lit(epoch).cast("int").alias("epoch"),
            ),
        ))
    if cfg.page_features and ok_now is not None:
        # crawl -> training-data bridge: per-page text features land
        # in their own delta table (reads the fetched cache)
        from spider_man_spark.sources.parse import page_features

        deferred_writes.append(("page_features", page_features(ok_now, epoch)))
    obs_seen = None
    if admitted is not None:
        obs_seen = Observation()
        seen_rows = _seen_rows(admitted, cfg.bloom_shards, epoch).observe(
            obs_seen, F.count(F.lit(1)).alias("n")
        )
        deferred_writes.append(("seen", seen_rows))
        if cfg.bloom_enabled:
            # incremental seen_shards update: build filters ONLY from
            # this epoch's admitted delta, OR-merge into the previous
            # snapshot — O(delta) work per epoch, all executor-side
            from spider_man_spark.operators.dedup import (
                build_seen_shards,
                merge_seen_shards,
            )

            delta_shards = build_seen_shards(
                _seen_rows(admitted, cfg.bloom_shards, epoch),
                cfg.bloom_shards,
                cfg.bloom_shard_bits,
                epoch,
            )
            deferred_writes.append(
                ("seen_shards", merge_seen_shards(seen_shards, delta_shards, epoch))
            )
    # ---- item-processor stage: sink first (per-item ack), then the
    # ok rows land in the items state table ----
    item_dead = None
    failed_items = None
    obs_items = None
    pending_items_out = None  # None = leave the pending snapshot alone
    if items_all is not None and write_items:
        t1 = time.monotonic()
        _label("item-processor")
        items_all = items_all.persist(StorageLevel.MEMORY_AND_DISK)
        ok_items = items_all
        results = None
        if sink is not None:
            sink_input = items_all
            if cfg.partition_by:
                # batcher partition_by (configuration.ex:138-149):
                # key-grouped partitions for the sink write
                sink_input = items_all.repartition(F.col(cfg.partition_by))
            results = sink.store(sink_input, epoch)
        if isinstance(results, DataFrame) and "ok" in results.columns:
            # per-item zip-split ack (item_processor.ex:94-105): the
            # sink reported per-row status — failures retry with
            # retries-1 through the pending queue, exhausted rows
            # dead-letter with the sink's reason
            reason_col = (
                F.col("reason")
                if "reason" in results.columns
                else F.lit("sink_error")
            )
            # Ack coverage is validated, not assumed (the reference's
            # zip-split relies on 1:1 results, item_processor.ex:94-105):
            # duplicate ack rows collapse to ok = ALL acks ok (keeping a
            # failure reason), and items the sink never acked are treated
            # as failures (reason 'missing_ack') rather than silently
            # stored — a left join from items_all guarantees exactly one
            # verdict per item.
            acks = (
                results.select("image_id", "ok", reason_col.alias("__reason"))
                .groupBy("image_id")
                .agg(
                    F.min(F.col("ok").cast("int")).cast("boolean").alias("ok"),
                    F.max(
                        F.when(~F.col("ok"), F.col("__reason"))
                    ).alias("__reason"),
                )
            )
            fails = (
                items_all.select("image_id")
                .join(acks, "image_id", "left")
                .filter(F.col("ok").isNull() | ~F.col("ok"))
                .select(
                    "image_id",
                    F.coalesce("__reason", F.lit("missing_ack")).alias(
                        "__reason"
                    ),
                )
            )
            failed_items = items_all.join(fails, "image_id").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            res.item_fail = failed_items.count()
            if res.item_fail:
                # anti-join against the PERSISTED failed_items (not the
                # raw `fails` lineage): the deferred items write must not
                # re-evaluate the sink's ack DataFrame — a sink whose ack
                # lazily performs the uploads would re-run its side
                # effects, and a nondeterministic ack would make ok_items
                # inconsistent with item_fail/failed_items.
                ok_items = items_all.join(
                    failed_items.select("image_id"), "image_id", "left_anti"
                )
                pending_items_out = (
                    failed_items.filter(F.col("retries") > 0)
                    .withColumn("retries", F.col("retries") - 1)
                    .select(*[f.name for f in ITEMS_SCHEMA.fields])
                )
                item_dead = failed_items.filter(F.col("retries") <= 0).select(
                    F.lit("item_processor").alias("component"),
                    F.col("image_id").alias("url_key"),
                    F.col("image_id").alias("url"),
                    F.col("caption").alias("payload"),
                    F.col("__reason").alias("reason"),
                    (F.col("retries") - 1).alias("retries"),  # ref: -1
                    F.lit(None).cast("int").alias("depth"),
                    F.lit(None).cast("int").alias("priority"),
                    F.lit(None).cast("string").alias("flag"),
                    F.lit(None).cast("map<string,string>").alias("options"),
                    F.lit(epoch).cast("int").alias("epoch"),
                )
        if cfg.stage_timing and results is None:
            # timed barrier (no per-item ack counted above): the items
            # cache materializes inside the item-processor window
            items_all.count()
        obs_items = Observation()
        deferred_writes.append(
            ("items", ok_items.observe(obs_items, F.count(F.lit(1)).alias("n")))
        )
        res.durations_ms["item_processor"] = int((time.monotonic() - t1) * 1000)
        if pending_items_out is None and parked_items is not None:
            # parked items were consumed: clear the pending snapshot
            pending_items_out = spark.createDataFrame([], ITEMS_SCHEMA)
    elif items_all is not None and "item_processor" in suspended:
        pending_items_out = items_all
    elif parked_items is not None:
        # consumed this epoch: clear the pending snapshot
        pending_items_out = spark.createDataFrame([], ITEMS_SCHEMA)
    # small end-of-epoch state writes (pending/failed/session/robots)
    # are collected and submitted CONCURRENTLY from driver threads:
    # each is a tiny job whose fixed stage latency would otherwise sit
    # on the epoch's sequential critical path (~4-6 extra round trips)
    small_writes: list[tuple[str, DataFrame]] = []
    if pending_items_out is not None:
        small_writes.append(("pending_items", pending_items_out))

    dead_parts = []
    if dead is not None and res.dead:
        dead_parts.append(dead.select(*[f.name for f in FAILED_SCHEMA.fields]))
    if pre_dead is not None:
        n_pre_dead = pre_dead.count()  # piped is persisted: cheap
        if n_pre_dead:
            res.dead += n_pre_dead
            dead_parts.append(
                pre_dead.select(*[f.name for f in FAILED_SCHEMA.fields])
            )
    if post_dead is not None:
        n_post_dead = post_dead.count()  # post_piped is persisted: cheap
        if n_post_dead:
            res.dead += n_post_dead
            dead_parts.append(
                post_dead.select(*[f.name for f in FAILED_SCHEMA.fields])
            )
    if item_dead is not None:
        n_item_dead = item_dead.count()  # failed_items is persisted
        if n_item_dead:
            res.dead += n_item_dead
            dead_parts.append(
                item_dead.select(*[f.name for f in FAILED_SCHEMA.fields])
            )
    if disallowed is not None:
        # permanently-disallowed rows leave the frontier as dead
        # letters (reason 'disallowed') so run_until_zero can drain.
        # disallowed is persisted (see the schedule step), so this
        # count reads the cache; on the common clean-epoch case
        # (0 rows) the branch contributes nothing and — when no other
        # component died either — the whole failed write is skipped
        # (a missing delta dir reads as an empty delta).
        n_dis = disallowed.count()
        if n_dis:
            res.dead += n_dis
            dead_parts.append(
                disallowed.select(
                    F.lit("downloader").alias("component"),
                    "url_key", "url",
                    F.lit(None).cast("string").alias("payload"),
                    F.lit("disallowed").alias("reason"),
                    "retries", "depth", "priority", "flag", "options",
                    F.lit(epoch).cast("int").alias("epoch"),
                )
            )
    if dead_parts:
        all_dead = dead_parts[0]
        for p in dead_parts[1:]:
            all_dead = all_dead.unionByName(p)
        small_writes.append(("failed", all_dead))
    if parked_fetched is not None:
        small_writes.append(("pending_fetched", parked_fetched))
    elif pending_fetched is not None:
        small_writes.append(
            ("pending_fetched", spark.createDataFrame([], pending_fetched.schema))
        )

    if ok_now is not None and cfg.cookies:
        new_sess = harvest_cookies(ok_now, epoch)
        small_writes.append(
            ("session", merge_sessions(session, new_sess, epoch))
        )

    robots_next = advance_robots(
        robots, scheduled, epoch_ts, epoch, cfg.tokens_per_epoch
    )
    # observe whether any disallow rules exist so the NEXT epoch can
    # skip the disallowed-branch bookkeeping entirely on clean crawls
    obs_rob = Observation()
    robots_next = robots_next.observe(
        obs_rob,
        F.count(
            F.when(F.size(F.coalesce("disallow_prefixes", F.array())) > 0, 1)
        ).alias("n"),
        # max per-host token budget of the NEXT epoch's robots table —
        # persisted in the manifest so the next epoch's
        # WindowGroupLimit literal cap needs no standalone agg job
        F.max("tokens_per_epoch").alias("cap"),
    )
    small_writes.append(("robots", robots_next))

    all_writes = deferred_writes + small_writes

    def _writer(kind):
        # exactly-once fetch_events: stage now, publish after the
        # epoch's manifest commit (CrawlJob does the rename) — see
        # StateStore.write_staged
        base = store.write
        if kind == "fetch_events" and cfg.fetch_events_exactly_once:
            base = store.write_staged

        def _labeled(kind, df, ep, _base=base):
            _label(f"write {kind}")
            return _base(kind, df, ep)

        return _labeled

    if len(all_writes) == 1:
        _writer(all_writes[0][0])(all_writes[0][0], all_writes[0][1], epoch)
    elif all_writes:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(all_writes)) as pool:
            futs = [
                pool.submit(_writer(kind), kind, df, epoch)
                for kind, df in all_writes
            ]
            for f in futs:
                f.result()  # surface the first failure

    res.has_disallow = _obs_get(obs_rob, lambda: 1) > 0
    res.robots_tokens_cap = _obs_get(obs_rob, lambda: 0, "cap") or None
    if obs_seen is not None:
        res.new_requests = _obs_get(obs_seen, lambda: admitted.count())
    if obs_items is not None:
        res.items = _obs_get(
            obs_items,
            lambda: store.read_delta_single("items", epoch, ITEMS_SCHEMA).count(),
        )
    # by now every branch has materialized the scheduled cache
    res.scheduled = (
        _obs_get(obs_sched, lambda: scheduled.count())
        if obs_sched is not None
        else 0
    )
    if res.frontier_churn is None:
        # full commit: leaves ≈ scheduled (disallowed ride in
        # res.dead), enters ≈ admitted + retries — a free estimate off
        # counts already observed, accurate enough for the auto
        # policy's churn-fraction gate
        res.frontier_churn = res.scheduled + res.new_requests

    total_ms = int((time.monotonic() - t_all) * 1000)
    metrics_rows = [
        (epoch, "downloader", res.scheduled, res.fetched_ok, res.fetch_fail,
         res.durations_ms.get("downloader", 0)),
        (epoch, "spider", res.fetched_ok, res.new_requests + res.items, 0,
         res.durations_ms.get("spider", 0)),
        (epoch, "item_processor", res.items + res.item_fail, res.items,
         res.item_fail, res.durations_ms.get("item_processor", 0)),
        (epoch, "epoch", res.scheduled, res.fetched_ok, res.fetch_fail, total_ms),
    ]
    # metrics are 4 driver-side rows: write them with pyarrow directly —
    # a Spark job here would cost a full scheduling round trip for 4 rows
    store.write_rows_local("metrics", metrics_rows, METRICS_SCHEMA, epoch)
    res.durations_ms["epoch"] = total_ms

    if admitted is not None:
        admitted.unpersist()
    if items_all is not None and write_items:
        items_all.unpersist()
    scheduled.unpersist()
    if piped is not None:
        piped.unpersist()
    if post_piped is not None:
        post_piped.unpersist()
    if fetched is not None:
        fetched.unpersist()
    if failed_items is not None:
        failed_items.unpersist()
    if stage_items_cache is not None:
        stage_items_cache.unpersist()
    for c in sched_caches:
        c.unpersist()
    return res
