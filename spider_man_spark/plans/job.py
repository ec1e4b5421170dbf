"""CrawlJob — the Engine GenServer analogue (driver control plane).

Covers the reference's engine surface (SURVEY.md §2.4): lifecycle
hooks in documented order (lib/spider_man.ex:14-28), seed insertion
(insert_requests, lib/spider_man.ex:117-136), suspend/continue whole
or per component (engine.ex:145-191), retry_failed (engine.ex:218-244),
run_until_zero termination with double-check (lib/spider_man.ex:
195-247), checkpoint/resume (engine.ex:193-216 dump2file / ets_file),
and stats/tps (lib/spider_man.ex:285-305).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_man_spark.config import CrawlConfig
from spider_man_spark.functions.urls import canonicalize_frontier
from spider_man_spark.operators.dedup import (
    build_seen_shards,
    dedup_candidates,
    merge_seen_shards,
)
from spider_man_spark.operators import retry as retry_ops
from spider_man_spark.plans.epoch import EpochResult, run_epoch
from spider_man_spark.plans.state import StateStore
from spider_man_spark.schemas import (
    FAILED_SCHEMA,
    FRONTIER_SCHEMA,
    ITEMS_SCHEMA,
    METRICS_SCHEMA,
    SEEN_SCHEMA,
)
from spider_man_spark.builders import build_requests

COMPONENTS = ("downloader", "spider", "item_processor")


class CrawlJob:
    """One named crawl over a workdir of state tables."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig | None = None,
        corpus: DataFrame | None = None,
        fetcher=None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.corpus = corpus
        self.fetcher = fetcher
        self.store = StateStore(spark, self.cfg.workdir)
        self.suspended: set[str] = set(COMPONENTS) if self.cfg.suspended else set()
        # user sinks on top of the items state table ("table" IS the
        # state table; False disables the stage via cfg.storage checks)
        from spider_man_spark.storage import resolve_storage

        self.sink = (
            None
            if self.cfg.storage in (False, None, "table")
            else resolve_storage(self.cfg.storage, self.cfg.workdir)
        )
        # dynamic fetch options (the DynamicFinch switch_finch
        # analogue, dynamic_finch.ex:107-150): re-read every epoch so
        # proxy/pool/UA config changes apply without restart
        self.fetch_options: dict[str, Any] = {}
        self._hook("prepare_for_start_pre", self)
        for c in COMPONENTS:
            self._hook("prepare_for_start_component", c, self)
        self._hook("prepare_for_start_post", self)
        # crash cleanup: drop partial epochs beyond the committed one
        self.store.prune_beyond(self.store.last_epoch())
        # roll forward committed-but-unpublished staged fetch_events
        # (exactly-once mode crashed between commit and publish) and
        # drop uncommitted staged leftovers; no-op otherwise
        self.store.heal_staged("fetch_events")
        self._reconcile_pending()
        self._bootstrap_robots()
        self._hook("init", self)

    def _reconcile_pending(self) -> None:
        """Heal a crash inside insert_requests_df / retry_failed.

        Both ops mutate several state dirs non-atomically; each sets a
        ``pending_op`` manifest marker before the first rewrite and
        clears it in the same atomic manifest write as its size-chain
        update.  Seeing the marker at restore therefore means an
        unknown subset of the rewrites landed:

        - ``retry_failed``: retried rows may sit in BOTH the frontier
          and the failed deltas — a repeat retry_failed would then
          insert duplicate url_keys, violating the MOR unique-key
          tombstone assumption.  Heal: anti-join every failed delta
          against the current frontier keys (exact post-op state).
        - ``insert_requests``: admitted rows may sit in the frontier
          without their seen rows (a re-seed would re-admit them) or
          without the Bloom superset update.  Heal: backfill the
          missing seen rows (+ seen_shards fold when bloom is on).

        Either way the manifest ``frontier_size`` may not reflect the
        rewritten frontier, so the O(1) chain is dropped in the same
        atomic write that clears the marker — the next epoch recounts
        once.  Every heal is idempotent and a no-op on tables the
        crash didn't touch.  This runs a couple of Spark jobs, but
        only on the restore immediately after such a crash."""
        op = self.store.manifest().get("pending_op")
        if not op:
            return
        epoch = max(self.store.last_epoch(), 0)
        frontier = self.store.read_snapshot("frontier", epoch, FRONTIER_SCHEMA)
        # dedup=False drops the failed/frontier key-disjointness the
        # retry heal's anti-join relies on (a failed URL can
        # legitimately re-enter the frontier), and duplicates are
        # legal in that regime anyway — so the failed-purging heal is
        # skipped, but the final commit below still drops the skewed
        # O(1) size chain and clears the marker.
        if op == "retry_failed" and frontier is not None and self.cfg.dedup:
            fkeys = frontier.select("url_key")
            for e in self.store._epochs("failed", epoch):
                delta = self.store.read_delta_single("failed", e, FAILED_SCHEMA)
                self.store.rewrite(
                    "failed", delta.join(fkeys, "url_key", "left_anti"), e
                )
        elif op == "insert_requests" and frontier is not None:
            from spider_man_spark.plans.epoch import _seen_rows

            seen = self.store.read_deltas("seen", epoch, SEEN_SCHEMA)
            missing = frontier.join(
                seen.select("url_key"), "url_key", "left_anti"
            )
            new_seen = _seen_rows(
                missing, self.cfg.bloom_shards, epoch
            ).cache()
            if new_seen.count():
                prev_seen = self.store.read_delta_single(
                    "seen", epoch, SEEN_SCHEMA
                )
                self.store.rewrite(
                    "seen", prev_seen.unionByName(new_seen), epoch
                )
            new_seen.unpersist()
            if self.cfg.bloom_enabled:
                # The crash may have landed BETWEEN the seen rewrite
                # and the seen_shards rewrite: the seen delta is then
                # complete (missing == 0) but the shards lack the
                # seeded keys — and Bloom-negative candidates bypass
                # the exact anti-join, so those URLs would be
                # re-admitted as duplicate url_keys later.  missing
                # can't detect that window, so OR-fold this epoch's
                # whole seen delta unconditionally: the shard BITS are
                # idempotent (bitwise OR — an already-folded delta
                # changes no bit), but merge_seen_shards SUMS n_items,
                # so a re-fold double-counts this epoch's keys in that
                # informational counter.  Do not gate saturation or
                # rebuild decisions on n_items after a heal; the bits
                # (and the exact seen table) stay correct.
                cur_seen = self.store.read_delta_single(
                    "seen", epoch, SEEN_SCHEMA
                )
                prev_shards = self.store.read_snapshot(
                    "seen_shards", epoch
                )
                delta = build_seen_shards(
                    cur_seen,
                    self.cfg.bloom_shards,
                    self.cfg.bloom_shard_bits,
                    epoch,
                )
                self.store.rewrite(
                    "seen_shards",
                    merge_seen_shards(prev_shards, delta, epoch),
                    epoch,
                )
        self.store.commit(frontier_size=None, frontier_churn=None,
                          pending_op=None)

    def _bootstrap_robots(self) -> None:
        """Seed per-host politeness state by FETCHING and PARSING each
        host's /robots.txt from the corpus (north_rule: crawl-delay
        windows and disallow rules come from robots.txt state); hosts
        without a robots.txt fall back to the corpus's per-host
        crawl-delay ground truth.  No-op when resuming."""
        epoch = max(self.store.last_epoch(), 0)
        if self.corpus is None or self.store.read_snapshot("robots", epoch) is not None:
            return
        from spider_man_spark.operators.politeness import parse_robots_bodies

        ground = (
            self.corpus.filter(F.col("host").isNotNull())
            .groupBy("host")
            .agg(F.max("crawl_delay_ms").alias("__gt_delay"))
        )
        robots_pages = self.corpus.filter(
            F.col("url").endswith("/robots.txt") & (F.col("status") == 200)
        ).select("host", "body")
        parsed = parse_robots_bodies(
            robots_pages, self.cfg.tokens_per_epoch, epoch
        ).select(
            "host",
            F.col("crawl_delay_ms").alias("__rb_delay"),
            "disallow_prefixes",
        )
        robots0 = ground.join(parsed, "host", "left").select(
            "host",
            F.coalesce("__rb_delay", "__gt_delay", F.lit(0)).alias(
                "crawl_delay_ms"
            ),
            F.lit(self.cfg.tokens_per_epoch).alias("tokens_per_epoch"),
            F.lit(0).cast("long").alias("next_allowed_ts"),
            "disallow_prefixes",
            F.lit(epoch).cast("int").alias("epoch"),
        )
        self.store.write("robots", robots0, epoch)

    # -- lifecycle hooks (lib/spider_man.ex:45-61 order) --
    def _hook(self, name: str, *args: Any) -> Any:
        fn = self.cfg.callbacks.get(name)
        return fn(*args) if fn else None

    # -- seeding (insert_request/insert_requests analogue) --
    def insert_requests(self, urls: list[str], **kw: Any) -> int:
        """Canonicalize + dedup seeds into the frontier (epoch 0 or the
        current committed epoch); returns admitted count."""
        rows = build_requests(urls, **kw)
        df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        return self.insert_requests_df(df)

    def insert_requests_df(self, df) -> int:
        """Distributed seed path: accepts a DataFrame with at least a
        ``url`` column (missing frontier columns are defaulted) — at
        10^10-frontier scale seeds come from a table, not a driver
        list."""
        epoch = max(self.store.last_epoch(), 0)
        defaults = {
            "url_key": F.col("url"),
            "host": F.lit(None).cast("string"),
            "host_salt": F.lit(None).cast("int"),
            "url_hash": F.lit(None).cast("long"),
            "depth": F.lit(0),
            "priority": F.lit(0),
            "retries": F.lit(self.cfg.max_retries),
            "flag": F.lit(None).cast("string"),
            "options": F.lit(None).cast("map<string,string>"),
        }
        for name, default in defaults.items():
            if name not in df.columns:
                df = df.withColumn(name, default)
        df = df.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        cand = canonicalize_frontier(df, self.cfg.base_url, self.cfg.n_host_shards)
        seen = self.store.read_deltas("seen", epoch, SEEN_SCHEMA)
        admitted = dedup_candidates(cand, seen) if self.cfg.dedup else cand
        admitted = admitted.cache()
        n = admitted.count()
        # pending-op marker: the frontier/seen/seen_shards rewrites
        # below are separate non-atomic steps; the marker is cleared in
        # the SAME manifest write as the size-chain update, so a crash
        # anywhere in between is detected and reconciled at restore
        # (_reconcile_pending) instead of silently skewing the O(1)
        # size chain or leaving admitted rows without seen rows
        self.store.commit(pending_op="insert_requests")
        admitted_rows = admitted.select(
            *[f.name for f in FRONTIER_SCHEMA.fields]
        )
        # fresh-table fast path: when no committed dir exists yet the
        # union below reads nothing from disk, so the crash-safe
        # read-write replacement (localCheckpoint + tmp-dir swap) is
        # pure overhead — write directly (the common cold-start seed
        # pays one materialization instead of two)
        fresh = not self.store._epochs("frontier", epoch)
        if not fresh:
            frontier = self.store.read_snapshot(
                "frontier", epoch, FRONTIER_SCHEMA
            )
            self.store.rewrite(
                "frontier", frontier.unionByName(admitted_rows), epoch
            )
        else:
            self.store.write("frontier", admitted_rows, epoch)
        from spider_man_spark.plans.epoch import _seen_rows

        new_seen = _seen_rows(admitted, self.cfg.bloom_shards, epoch)
        # seed-time seen rows merge with THIS epoch's existing delta
        # only — unioning all deltas <= epoch would duplicate every
        # older seen row into the current dir on each mid-crawl seed
        if self.store._epochs("seen", epoch):
            prev_seen = self.store.read_delta_single(
                "seen", epoch, SEEN_SCHEMA
            )
            self.store.rewrite(
                "seen", prev_seen.unionByName(new_seen), epoch
            )
        else:
            self.store.write("seen", new_seen, epoch)
        if self.cfg.bloom_enabled:
            # the Bloom layer must stay a superset of the seen set:
            # fold the seed delta into the seen_shards snapshot too
            prev_shards = self.store.read_snapshot("seen_shards", epoch)
            delta = build_seen_shards(
                new_seen, self.cfg.bloom_shards, self.cfg.bloom_shard_bits,
                epoch,
            )
            self.store.rewrite(
                "seen_shards",
                merge_seen_shards(prev_shards, delta, epoch),
                epoch,
            )
        # ONE atomic commit: epoch bootstrap, the O(1) size-chain
        # update (admitted keys are seen-deduped, so +n is exact; a
        # fresh frontier IS the n admitted rows, which seeds the chain
        # so epoch 1 needs no count), and the pending-op clear land
        # together or not at all
        final_kv: dict[str, Any] = {"pending_op": None}
        if self.store.last_epoch() < 0:
            final_kv.update(epoch=0, job_name=self.cfg.job_name)
        m_size = self.store.manifest().get("frontier_size")
        if fresh:
            final_kv["frontier_size"] = n
        elif m_size is not None:
            final_kv["frontier_size"] = int(m_size) + n
        self.store.commit(**final_kv)
        admitted.unpersist()
        return n

    # -- suspend / continue (engine.ex:145-191) --
    def suspend(self, component: str | None = None) -> None:
        self.suspended |= {component} if component else set(COMPONENTS)

    def continue_(self, component: str | None = None) -> None:
        self.suspended -= {component} if component else set(COMPONENTS)

    @property
    def status(self) -> str:
        return "suspended" if self.suspended == set(COMPONENTS) else "running"

    # -- epoch loop --
    def _tune_partitions(self) -> None:
        """Size shuffle partitions to the frontier: window exchanges
        can't be AQE-coalesced (coalescing would break their hash
        requirement), so small epochs would otherwise pay full-width
        task overhead on every rank/dedup stage.  The size is the
        manifest's O(1) chain — recorded by the seed insert and by
        every epoch commit, so epoch 1 is sized too; only a dropped
        chain (crash reconcile) leaves the session width in place."""
        if self.cfg.shuffle_partitions:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(self.cfg.shuffle_partitions),
            )
            return
        size = self.store.manifest().get("frontier_size")
        if size is None:
            return
        # ~50k frontier rows per partition: A/B-measured optimum on
        # this workload — widening to core count made BOTH cluster
        # sizes slower (per-task fixed cost dominates over parallelism
        # for these string-heavy, sub-GB shuffles)
        target = max(8, min(256, int(size) // 50_000))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(target))

    def step(self) -> EpochResult:
        """Run exactly one epoch (commit epoch = last+1)."""
        self._tune_partitions()
        epoch = self.store.last_epoch() + 1
        if self.cfg.bloom_enabled:
            self._ensure_seen_shards(epoch - 1)
        self._reload_fetch_options(epoch)
        fetcher = self.fetcher
        if fetcher is None and self.corpus is None:
            # no corpus and no custom fetcher: real HTTP path, with
            # per-epoch re-read fetch options (proxy/pool hot-swap,
            # the DynamicFinch analogue)
            from spider_man_spark.sources.fetch import http_fetch

            opts = dict(self.fetch_options)

            def fetcher(df, _o=opts):
                return http_fetch(
                    df,
                    timeout_s=float(_o.get("timeout_s", 10.0)),
                    pool_size=int(_o.get("pool_size", 32)),
                    proxy=_o.get("proxy"),
                )

        res = run_epoch(
            self.store,
            self.cfg,
            epoch,
            corpus=self.corpus,
            fetcher=fetcher,
            suspended=self.suspended,
            sink=self.sink,
        )
        self.store.commit(
            epoch=epoch,
            job_name=self.cfg.job_name,
            has_disallow=res.has_disallow,
            robots_tokens_cap=res.robots_tokens_cap,
            # O(1) size chain for the auto/mor frontier policy — saves
            # the bootstrap count after full-rewrite epochs
            frontier_size=res.frontier_size,
            # churn chain for the auto policy's mor gate — persisted
            # regardless of commit mode so a full-rewrite epoch doesn't
            # reset the gate to "unknown" (mor/full oscillation)
            frontier_churn=res.frontier_churn,
        )
        if self.cfg.emit_fetch_events and self.cfg.fetch_events_exactly_once:
            # publish-on-commit: the staged fetch_events delta becomes
            # stream-visible only now that the epoch can never re-run
            self.store.publish_staged("fetch_events", epoch)
        # epoch > 0: nothing to fold on the very first epoch (and
        # 0 % compact_every == 0 would fire the trigger there)
        if self.cfg.compact_every and epoch and epoch % self.cfg.compact_every == 0:
            self.store.compact("seen", epoch)
            if self.cfg.frontier_mode != "full":
                # bound the MOR tombstone chain the same way the
                # seen-delta union is bounded
                self.store.compact_snapshot("frontier", epoch)
        elif self.cfg.frontier_mode != "full" and (
            self.cfg.frontier_compact_max_chain
            or self.cfg.frontier_compact_delta_bytes
        ):
            # churn-volume trigger: fold the MOR chain when its
            # accumulated delta bytes (the tombstone-join width proxy)
            # or dir count crosses the configured bound — the
            # epoch-count trigger alone under-compacts high-churn
            # crawls and over-compacts low-churn ones
            chain, nbytes = self.store.mor_chain_stats("frontier", epoch)
            if (
                self.cfg.frontier_compact_max_chain
                and chain >= self.cfg.frontier_compact_max_chain
            ) or (
                self.cfg.frontier_compact_delta_bytes
                and nbytes >= self.cfg.frontier_compact_delta_bytes
            ):
                self.store.compact_snapshot("frontier", epoch)
        return res

    def switch_fetch_options(self, **opts: Any) -> None:
        """DynamicFinch.switch_finch analogue: persist new fetch
        options (proxy, pool size, ...); applied from the next epoch."""
        import json
        import os

        self.fetch_options.update(opts)
        p = os.path.join(self.cfg.workdir, "fetch_config.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.fetch_options, f)
        os.replace(tmp, p)

    def _reload_fetch_options(self, epoch: int) -> None:
        import json
        import os

        p = os.path.join(self.cfg.workdir, "fetch_config.json")
        if os.path.exists(p):
            with open(p) as f:
                self.fetch_options = json.load(f)

    def _ensure_seen_shards(self, up_to: int) -> None:
        """One-time bootstrap of the seen_shards snapshot from the
        exact seen table (bloom enabled mid-crawl / legacy checkpoint).
        Steady-state updates are incremental inside run_epoch — this
        never runs again once a snapshot exists."""
        if self.store._epochs("seen_shards", up_to):
            return
        epoch = max(up_to, 0)
        seen = self.store.read_deltas("seen", epoch, SEEN_SCHEMA)
        shards = build_seen_shards(
            seen, self.cfg.bloom_shards, self.cfg.bloom_shard_bits, epoch
        )
        self.store.write("seen_shards", shards, epoch)

    def run_until_zero(self, max_epochs: int | None = None) -> dict[str, Any]:
        """Loop until the frontier is empty ``zero_checks`` epochs in a
        row (the double-check of lib/spider_man.ex:204-211); returns
        elapsed ms + per-epoch results."""
        t0 = time.monotonic()
        zero_streak = 0
        results: list[EpochResult] = []
        limit = max_epochs or self.cfg.max_epochs
        while len(results) < limit:
            res = self.step()
            results.append(res)
            zero_streak = zero_streak + 1 if res.is_zero else 0
            if zero_streak >= self.cfg.zero_checks:
                break
        self.stop()
        return {
            "msec": int((time.monotonic() - t0) * 1000),
            "epochs": len(results),
            "results": results,
        }

    def stop(self) -> None:
        for c in COMPONENTS:
            self._hook("prepare_for_stop_component", c, self)
        self._hook("prepare_for_stop", self)

    # -- retry_failed (engine.ex:218-244) --
    def retry_failed(self, component: str | None = None) -> int:
        epoch = self.store.last_epoch()
        failed = self.store.read_deltas("failed", epoch, FAILED_SCHEMA)
        rows, keep = retry_ops.retry_failed(failed, component, self.cfg.max_retries)
        rows = canonicalize_frontier(
            rows, self.cfg.base_url, self.cfg.n_host_shards
        ).cache()
        n = rows.count()
        if n:
            # pending-op marker (see insert_requests_df): the frontier
            # rewrite, the failed-delta rewrites, and the size-chain
            # update are non-atomic; a crash in between would leave
            # retried rows in BOTH frontier and failed — a repeat
            # retry_failed would then duplicate url_keys, violating
            # the MOR unique-key tombstone assumption.  The marker is
            # cleared only in the final commit, so restore reconciles.
            # The marker is set in EVERY dedup regime: with dedup=False
            # the reconcile skips the failed-purging anti-join (a
            # failed URL can legitimately re-enter the frontier), but
            # the marker must still force the O(1) size-chain drop —
            # the frontier rewrite below skews it either way.
            self.store.commit(pending_op="retry_failed")
            frontier = self.store.read_snapshot("frontier", epoch, FRONTIER_SCHEMA)
            self.store.rewrite("frontier", frontier.unionByName(rows), epoch)
            # rewrite the failed deltas minus the retried rows
            for e in self.store._epochs("failed", epoch):
                delta = self.spark.read.parquet(
                    f"{self.store.workdir}/failed/e_{e:05d}"
                )
                kept = delta.join(
                    rows.select("url_key"), "url_key", "left_anti"
                )
                self.store.rewrite("failed", kept, e)
            # O(1) size-chain update (+n is exact: dead-lettered rows
            # are disjoint from the live frontier) atomically with the
            # pending-op clear
            final_kv: dict[str, Any] = {"pending_op": None}
            m_size = self.store.manifest().get("frontier_size")
            if m_size is not None:
                final_kv["frontier_size"] = int(m_size) + n
            self.store.commit(**final_kv)
        rows.unpersist()
        return n

    # -- stats / throughput (lib/spider_man.ex:148-164, 285-305) --
    def metrics(self) -> DataFrame:
        return self.store.read_deltas(
            "metrics", self.store.last_epoch(), METRICS_SCHEMA
        )

    def host_fetch_stats_stream(self, min_gap_ms: int = 0) -> DataFrame:
        """Live per-host fetch totals + politeness-gap violations: the
        stateful streaming tracker (stream_host_fetch_stats) tailing
        this crawl's fetch_events deltas.  Requires
        ``emit_fetch_events=True`` in the config; start with any
        trigger (``availableNow`` drains what a finished crawl wrote).
        The per-host analogue of the reference's console stats printer
        (stats.ex:59-100) backed by Spark's state store instead of a
        driver-local ETS table."""
        from spider_man_spark.streaming.live import (
            stream_fetch_events,
            stream_host_fetch_stats,
        )

        return stream_host_fetch_stats(
            stream_fetch_events(self.spark, self.store.workdir),
            min_gap_ms=min_gap_ms,
        )

    def stats(self) -> dict[str, Any]:
        epoch = self.store.last_epoch()
        m = self.metrics().groupBy("component").agg(
            F.sum("total").alias("total"),
            F.sum("success").alias("success"),
            F.sum("fail").alias("fail"),
            F.sum("duration_ms").alias("duration_ms"),
        )
        out: dict[str, Any] = {"epoch": epoch, "status": self.status}
        for r in m.collect():
            out[r.component] = {
                "total": r.total, "success": r.success, "fail": r.fail,
                "duration_ms": r.duration_ms,
            }
        frontier = self.store.read_snapshot("frontier", epoch, FRONTIER_SCHEMA)
        out["frontier_size"] = frontier.count()
        return out

    def throughput(self) -> dict[str, float]:
        """tps = success / (duration_ms/1000) per component
        (lib/spider_man.ex:285-305)."""
        out = {}
        for comp, s in self.stats().items():
            if isinstance(s, dict) and s.get("duration_ms"):
                out[comp] = s["success"] / (s["duration_ms"] / 1000.0)
        return out

    # -- state access --
    def items(self) -> DataFrame:
        return self.store.read_deltas("items", self.store.last_epoch(), ITEMS_SCHEMA)

    def image_neardups(self, max_hamming: int = 3) -> DataFrame:
        """Perceptual near-dup pairs over the stored image items
        (banded-Hamming join on the phash column the crawl's decode
        pass already computed) — the crawl -> image-training-data
        dedup bridge."""
        from spider_man_spark.operators.imagededup import phash_neardup_pairs

        return phash_neardup_pairs(self.items(), max_hamming=max_hamming)

    def image_dedup_keep(self, max_hamming: int = 3, prefer=None) -> DataFrame:
        """One kept item per duplicate image cluster (byte-exact ∪
        perceptual, transitively closed via connected components) —
        the full crawl -> deduplicated-training-set pass."""
        from spider_man_spark.operators.imagededup import image_dedup_keep

        return image_dedup_keep(
            self.items(), max_hamming=max_hamming, prefer=prefer
        )

    def page_features(self) -> DataFrame:
        from spider_man_spark.schemas import PAGE_FEATURES_SCHEMA

        return self.store.read_deltas(
            "page_features", self.store.last_epoch(), PAGE_FEATURES_SCHEMA
        )

    def failed(self) -> DataFrame:
        return self.store.read_deltas("failed", self.store.last_epoch(), FAILED_SCHEMA)

    def frontier(self) -> DataFrame:
        return self.store.read_snapshot(
            "frontier", self.store.last_epoch(), FRONTIER_SCHEMA
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        workdir: str,
        corpus: DataFrame | None = None,
        **cfg_kw: Any,
    ) -> "CrawlJob":
        """Resume from checkpoint (the ets_file restore analogue,
        engine.ex:409-427): state is whatever the manifest committed."""
        return cls(spark, CrawlConfig(workdir=workdir, **cfg_kw), corpus=corpus)
