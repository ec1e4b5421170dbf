"""Crawl configuration — the reference's "query language".

A crawl is *declared* as a settings tree validated at build time
(``lib/spider_man/configuration.ex:84-155``, defaults 4-34) and merged
across 5 precedence layers (documented configuration.ex:67-76,
implemented 239-269; deep merge in utils.ex:45-64 with
``pipelines``/``batchers`` *replacing* instead of merging,
utils.ex:48-52).  ``handle_response`` and the lifecycle hooks
(lib/spider_man.ex:45-61) become Python callables: the parse function
runs inside an Arrow-batched UDF, the hooks run on the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from spider_man_spark.schemas import (
    DEFAULT_EPOCH_MS,
    DEFAULT_REQUEST_RETRIES,
    DEFAULT_TOKENS_PER_EPOCH,
)

# Keys whose values replace wholesale on merge instead of deep-merging
# (mirrors utils.ex:48-52 for :pipelines / :batchers etc.).
_REPLACE_KEYS = frozenset(
    {"pipelines", "post_pipelines", "batchers", "storage", "user_agents"}
)


def merge_settings(*layers: Mapping[str, Any] | None) -> dict[str, Any]:
    """Deep-merge settings layers, earliest = lowest precedence.

    Mirrors the 5-layer precedence of configuration.ex:239-269
    (defaults < global < per-spider < module settings() < direct args)
    — callers pass layers in that order.
    """
    out: dict[str, Any] = {}
    for layer in layers:
        if not layer:
            continue
        for k, v in layer.items():
            if (
                k not in _REPLACE_KEYS
                and isinstance(v, Mapping)
                and isinstance(out.get(k), dict)
            ):
                out[k] = merge_settings(out[k], v)
            else:
                out[k] = v if not isinstance(v, Mapping) else dict(v)
    return out


class SettingsError(ValueError):
    """Validation failure (the NimbleOptions-error analogue)."""


# Hooks in the reference's documented firing order (lib/spider_man.ex:14-28).
LIFECYCLE_HOOKS = (
    "prepare_for_start_pre",
    "prepare_for_start_component",
    "prepare_for_start_post",
    "init",
    "handle_response",
    "prepare_for_stop_component",
    "prepare_for_stop",
)


@dataclass
class CrawlConfig:
    """Validated crawl job configuration.

    Defaults mirror the reference's (configuration.ex:4-34):
    politeness ceiling 10 req / 1000 ms epoch, request retries 3,
    downloader+item_processor dedup on by default
    (configuration.ex:9,23,206,220).
    """

    job_name: str = "spider"
    workdir: str = "./data"
    # Politeness (reference: global 10/1000ms; rebuild: per-host).
    tokens_per_epoch: int = DEFAULT_TOKENS_PER_EPOCH
    epoch_ms: int = DEFAULT_EPOCH_MS
    # Frontier-level retry budget (utils.ex:19-21).
    max_retries: int = DEFAULT_REQUEST_RETRIES
    # Dedup (DuplicateFilter default-on, configuration.ex:9,23).
    dedup: bool = True
    # Bloom pre-filter layer in front of the exact seen anti-join:
    # per-shard FIXED-size filters persisted in the seen_shards table,
    # incrementally OR-merged per epoch and probed executor-side.
    # Size rule: bloom_shard_bits ~= 16 x expected keys per shard
    # (10^10 keys / 64 shards => ~2^31 bits/shard on a real cluster).
    bloom_enabled: bool = False
    bloom_shards: int = 64
    bloom_shard_bits: int = 1 << 22
    # Host-hash shard fan-out, stored per frontier row as host_salt.
    # No state layout keys on it, so a change mid-workdir only mixes
    # fan-outs in that stored column.
    n_host_shards: int = 32
    # Frontier commit strategy — the knob that decides whether a
    # bounded-budget crawl over a 10^10-URL frontier pays O(churn) or
    # O(|frontier|) write I/O per epoch:
    #   "auto"    (default) per-epoch policy: merge-on-read deltas
    #             when the frontier is large (>= frontier_mor_min_rows)
    #             AND the last epoch's churn fraction is small
    #             (<= frontier_mor_max_churn) AND dedup is on; full
    #             rewrite otherwise.  Bench-measured rationale: MOR
    #             cuts write I/O 8.5x with identical schedule digests,
    #             but its read-side assembly costs ~2s/epoch of fixed
    #             latency — a win only once the avoided write dwarfs
    #             it (the 10^10 regime), so small crawls keep the
    #             rewrite.  Mixed layouts are first-class: the reader
    #             resolves any interleaving of full and MOR dirs.
    #   "mor"     always merge-on-read deltas, the Iceberg MOR
    #             posture: each epoch writes only the entering rows
    #             (retries + admitted) and the leaving url_keys
    #             (scheduled/disallowed tombstones); the effective
    #             snapshot is assembled at read time (base ∪ enters,
    #             max-leave-epoch join).  Write I/O is O(churn)
    #             unconditionally; periodic compaction (compact_every)
    #             folds deltas into a new base.  Requires dedup=True
    #             (tombstones assume frontier url_keys are unique).
    #   "full"    the full-snapshot rewrite each epoch.  With dedup on
    #             (unique url_keys) the kept rows are the frontier
    #             minus the disallow predicate minus a bounded-
    #             broadcast anti-join on the scheduled url_keys — no
    #             full-frontier window, sort or persist.  With
    #             dedup=False the frontier may hold duplicate keys, so
    #             the kept rows are the rank-losers ∪ delayed side
    #             outputs of a persisted full-frontier rank instead
    #             (the anti-join would drop unscheduled copies of a
    #             scheduled key).
    frontier_mode: str = "auto"
    frontier_mor_min_rows: int = 4_000_000
    frontier_mor_max_churn: float = 0.25
    # Churn-volume MOR compaction triggers, checked after every epoch
    # alongside the epoch-count trigger (compact_every).  At the
    # 10^10 design point the RIGHT trigger is accumulated delta
    # volume, not epoch count: the read-side tombstone join widens
    # with total accumulated leaves, so a low-churn crawl can safely
    # run hundreds of epochs per compaction while a high-churn one
    # must fold sooner.  Chain length is the metadata-walk backstop
    # (bounds the multi-dir scan's file listing); 0 disables either.
    frontier_compact_max_chain: int = 64
    frontier_compact_delta_bytes: int = 0
    # Ranking salt fan-out for the two-phase per-host top-k.
    rank_salts: int = 8
    base_url: str | None = None
    user_agents: tuple[str, ...] = ()
    splash_url: str | None = None
    # Sinks: list of storage specs (see storage/__init__.py registry);
    # False disables the item-processor stage entirely
    # (storage/storage.ex "storage: false" -> item_processor_pid nil).
    storage: Any = "table"
    # Batcher partition_by (configuration.ex:26-33,138-149): repartition
    # the items batch by this column before the sink write so a sink
    # sees key-grouped partitions.
    partition_by: str | None = None
    # SaveToFile non-skip forward (save_to_file.ex:40-44): when set,
    # stored `save2file`-flagged responses re-enter the parse input
    # with url rewritten to '<save_to_file>/<url_key>' (the storage
    # path); `_and_skip` responses are stored but never reach parse.
    save_to_file: str | None = None
    # Component suspend flags (engine.ex:145-191).
    suspended: bool = False
    # Max URLs scheduled per epoch across all hosts (GenStage demand
    # analogue — bounds one epoch's work; 0 = unbounded).
    max_per_epoch: int = 0
    # Compact the seen-delta dirs every N epochs (0 = never) — keeps
    # long crawls' per-epoch anti-join reads O(1) dirs.
    compact_every: int = 16
    # Explicit shuffle width (None = auto-tune from frontier size at
    # ~50k rows/partition).  Set explicitly when per-row payloads are
    # heavy (KB-scale bodies): the row-count heuristic under-counts
    # bytes and would starve wide clusters of tasks.
    shuffle_partitions: int | None = None
    # StorageLevel name for the fetched (body-carrying) cache.
    # MEMORY_AND_DISK suits ~byte-scale stub bodies; use DISK_ONLY for
    # KB+ bodies — the in-memory columnar builder allocates unmanaged
    # heap per batch and evicts everything else at body scale (on a
    # real cluster TB-scale intermediates belong on local disk anyway).
    fetched_storage: str = "MEMORY_AND_DISK"
    # Termination (run_until_zero double-check, lib/spider_man.ex:204-211).
    zero_checks: int = 2
    max_epochs: int = 1000
    # Session-state (SetCookie) stage on/off.
    cookies: bool = False
    # Accurate per-stage duration attribution: each stage's persisted
    # output is materialized by a timed action inside its stage
    # window, so durations_ms/metrics tps reflect EXECUTION time per
    # component (the reference's stats fold, lib/spider_man.ex:285-305).
    # Default True (round-4): the barriers cost a median 3.0% epoch
    # wall (paired same-JVM alternating-epoch A/B at the light bench
    # shape — two extra job round trips over already-persisted
    # caches); a fused-lazy plan offers no cheaper execution-true
    # attribution (stages fuse into one job, so no listener can split
    # them without the same materialization points).  Set False for
    # throughput-critical crawls: the work then runs at the epoch-end
    # writes and per-stage rows become construction-time
    # approximations — only the 'epoch' row stays exact.
    stage_timing: bool = True
    # Per-fetched-page text features (lang / quality / tokens /
    # fingerprint) written to a page_features state table each epoch —
    # the crawl -> training-data bridge (off by default: it adds one
    # deferred write per epoch).
    page_features: bool = False
    # Per-fetch (host, ts_ms) events written to a fetch_events state
    # table each epoch — the tailable feed for the stateful streaming
    # per-host politeness tracker (stream_host_fetch_stats / the
    # reference's per-host rate-limiter console surface).  Off by
    # default: it adds one deferred write per epoch.
    emit_fetch_events: bool = False
    # Exactly-once fetch_events delivery across crash-recovery epoch
    # re-runs: the per-epoch delta is written to a hidden staging dir
    # and renamed into the stream-visible e_* path only AFTER the
    # epoch's manifest commit (publish-on-commit; a crash between
    # commit and publish is rolled forward at the next job init).
    # Default off: the plain write is one rename cheaper per epoch and
    # at-least-once is fine for a monitoring surface — turn this on
    # when the tracker's totals must stay trustworthy through crashes.
    fetch_events_exactly_once: bool = False
    # User callbacks (CommonSpider analogue, common_spider.ex:35-59).
    callbacks: dict[str, Callable[..., Any]] = field(default_factory=dict)
    # Extra pipeline stages: list of (fn: DataFrame -> DataFrame).
    pipelines: tuple[Callable[..., Any], ...] = ()
    post_pipelines: tuple[Callable[..., Any], ...] = ()

    def __post_init__(self) -> None:
        validate_settings(self)


def validate_settings(cfg: CrawlConfig) -> None:
    """Build-time validation (the validate_settings! analogue,
    configuration.ex:239-269 + callback arity checks
    common_spider.ex:137-155)."""
    if cfg.tokens_per_epoch < 1:
        raise SettingsError("tokens_per_epoch must be >= 1")
    if cfg.epoch_ms < 1:
        raise SettingsError("epoch_ms must be >= 1")
    if cfg.max_retries < 0:
        raise SettingsError("max_retries must be >= 0")
    if cfg.n_host_shards < 1 or cfg.bloom_shards < 1 or cfg.rank_salts < 1:
        raise SettingsError("shard/salt counts must be >= 1")
    if cfg.frontier_mode not in ("auto", "mor", "full"):
        raise SettingsError(
            f"frontier_mode must be 'auto', 'mor' or 'full' "
            f"(got {cfg.frontier_mode!r})"
        )
    if cfg.frontier_mode == "mor" and not cfg.dedup:
        raise SettingsError(
            "frontier_mode='mor' requires dedup=True: leave tombstones "
            "assume frontier url_keys are unique, which only the "
            "seen-set dedup guarantees — use 'auto' or 'full'"
        )
    for name, fn in cfg.callbacks.items():
        if name not in LIFECYCLE_HOOKS:
            raise SettingsError(
                f"unknown callback {name!r}; expected one of {LIFECYCLE_HOOKS}"
            )
        if not callable(fn):
            raise SettingsError(f"callback {name!r} is not callable")
    for stage in tuple(cfg.pipelines) + tuple(cfg.post_pipelines):
        if not callable(stage) and not (
            isinstance(stage, tuple) and len(stage) == 2 and callable(stage[0])
        ):
            raise SettingsError(
                "pipeline stages must be callable or (callable, arg) "
                f"(got {stage!r})"
            )


def from_settings(settings: Mapping[str, Any] | None = None, **direct: Any) -> CrawlConfig:
    """Build a CrawlConfig from merged settings layers + direct args
    (direct args are the highest-precedence layer)."""
    merged = merge_settings(settings, direct)
    fields = {f for f in CrawlConfig.__dataclass_fields__}
    unknown = set(merged) - fields
    if unknown:
        raise SettingsError(f"unknown settings keys: {sorted(unknown)}")
    return CrawlConfig(**merged)
