"""Epoch-versioned parquet state store — the dump2file/ets_file analogue.

The reference checkpoints all nine ETS tables to ``.ets`` files with
md5 verification and restores them at boot (engine.ex:193-216,
409-427; utils.ex:84-98).  Here every state table is a directory of
epoch-stamped parquet snapshots/deltas plus an atomic JSON manifest —
functionally the Iceberg-snapshot layout (one snapshot per epoch,
time-travel by epoch, atomic commit), expressed on plain parquet so it
runs in this sandbox; on a cluster each kind maps 1:1 onto an Iceberg
table with snapshot-per-epoch commits.

Layout:
  workdir/<kind>/e_00042/*.parquet   (no '=' in dir names on purpose —
                                      keeps Spark partition discovery
                                      out of the way of explicit epoch
                                      data columns)
  workdir/manifest.json              {"epoch": N, ...} via tmp+rename

SNAPSHOT kinds (read latest <= N): frontier, robots, session,
pending_fetched, pending_items.
DELTA kinds (read union of all <= N): seen, items, failed, metrics.
Resume = read manifest, ignore dirs beyond the committed epoch —
uncommitted partial epochs are invisible, which is exactly Iceberg's
snapshot-isolation behavior.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Marker file an older build's shard-selective ("sharded") frontier
# commit left in its epoch dirs.  That layout is no longer read:
# StateStore refuses a workdir that still holds one (see
# _refuse_legacy_layout).
_LEGACY_SHARD_META = "shards.json"

# Marker file for a MERGE-ON-READ delta epoch dir (Iceberg MOR
# posture): the dir holds only `enter/` (rows that joined the frontier
# this epoch — retries + admitted) and `leave/` (url_key tombstones
# for rows that left — scheduled/disallowed), plus this metadata file
# with the delta counts and the resulting snapshot size.  The
# effective snapshot is assembled at read time; per-epoch write I/O is
# O(churn) regardless of how scheduling spreads over hosts.
MOR_META = "delta.json"
# Broadcast the tombstone set into the read-side join while it stays
# comfortably under executor memory; beyond that let it shuffle.
_MOR_BROADCAST_MAX_KEYS = 4_000_000

SNAPSHOT_KINDS = frozenset(
    {"frontier", "robots", "session", "pending_fetched", "pending_items",
     "seen_shards"}
)
DELTA_KINDS = frozenset(
    {"seen", "items", "failed", "metrics", "page_features"}
)


def _edir(epoch: int) -> str:
    return f"e_{epoch:05d}"


class StateStore:
    def __init__(self, spark: SparkSession, workdir: str) -> None:
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self._recover_replacements()
        self._refuse_legacy_layout()

    def _refuse_legacy_layout(self) -> None:
        """Reject a frontier written in an older build's shard-selective
        layout: its epoch dirs hold only the shards that changed, so
        reading one as a full snapshot would silently drop every other
        shard's rows."""
        d = os.path.join(self.workdir, "frontier")
        if not os.path.isdir(d):
            return
        for name in sorted(os.listdir(d)):
            if name.startswith("e_") and name[2:].isdigit() and os.path.exists(
                os.path.join(d, name, _LEGACY_SHARD_META)
            ):
                raise ValueError(
                    f"{self.workdir}: frontier/{name} was written in the "
                    f"removed 'sharded' frontier layout "
                    f"({_LEGACY_SHARD_META}), which this build cannot "
                    f"read.  Fold it into one full snapshot first with "
                    f"an older build: StateStore(spark, workdir)"
                    f".compact_snapshot('frontier', <last epoch>)"
                )

    # -- crash-safe in-place dir replacement (compaction) --
    def _recover_replacements(self) -> None:
        """Finish or roll back any dir replacement a crash interrupted
        (see _safe_replace_dir): a complete `__tmp` with its final dir
        missing is rolled forward; everything else stale is dropped."""
        for kind in sorted(SNAPSHOT_KINDS | DELTA_KINDS):
            d = os.path.join(self.workdir, kind)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if name.endswith("__shtmp"):
                    # an older build's interrupted shard-selective
                    # write: never roll forward — it holds only the
                    # dirty shards and would read as a full snapshot
                    shutil.rmtree(p, ignore_errors=True)
                elif name.endswith("__tmp"):
                    final = p[: -len("__tmp")]
                    if (
                        os.path.exists(os.path.join(p, "_SUCCESS"))
                        and not os.path.exists(final)
                    ):
                        os.rename(p, final)
                    else:
                        shutil.rmtree(p, ignore_errors=True)
                elif name.endswith("__old"):
                    final = p[: -len("__old")]
                    if os.path.exists(final):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        # tmp never landed: roll the old dir back
                        os.rename(p, final)

    def _safe_replace_dir(self, kind: str, df: DataFrame, epoch: int) -> None:
        """Replace an ALREADY-COMMITTED epoch dir with ``df`` without a
        crash window: write to `__tmp` first (reading the live dir is
        safe), then swap via renames.  A kill at any point leaves
        either the old or the new dir recoverable by
        _recover_replacements — a plain overwrite would delete
        committed state before the replacement exists."""
        final = os.path.join(self.workdir, kind, _edir(epoch))
        tmp = final + "__tmp"
        old = final + "__old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        df.localCheckpoint(eager=True).write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)

    # -- manifest (atomic commit marker) --
    def manifest(self) -> dict:
        p = os.path.join(self.workdir, "manifest.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def commit(self, **kv) -> None:
        """Merge ``kv`` into the manifest atomically; a ``None`` value
        DELETES its key (used to drop the O(1) frontier_size chain or
        clear a pending-op marker in the same atomic write that
        records the rest of the commit)."""
        m = self.manifest()
        for k, v in kv.items():
            if v is None:
                m.pop(k, None)
            else:
                m[k] = v
        p = os.path.join(self.workdir, "manifest.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, p)

    def last_epoch(self) -> int:
        return int(self.manifest().get("epoch", -1))

    # -- writes --
    def write(self, kind: str, df: DataFrame, epoch: int) -> None:
        path = os.path.join(self.workdir, kind, _edir(epoch))
        df.write.mode("overwrite").parquet(path)

    # -- staged delta writes (publish-on-commit) --
    # A delta tailed by a LIVE file-stream source (fetch_events) gets
    # exactly-once delivery by writing to a dot-prefixed staging dir
    # the stream's e_* glob can never match, then renaming it into
    # place only AFTER the epoch's manifest commit.  Crash before the
    # commit: the staged dir was never visible and the epoch re-run
    # overwrites it.  Crash after the commit but before the rename:
    # heal_staged rolls the rename forward at the next job init.
    def write_staged(self, kind: str, df: DataFrame, epoch: int) -> None:
        path = os.path.join(self.workdir, kind, f".staged_{_edir(epoch)}")
        df.write.mode("overwrite").parquet(path)

    def publish_staged(self, kind: str, epoch: int) -> bool:
        src = os.path.join(self.workdir, kind, f".staged_{_edir(epoch)}")
        dst = os.path.join(self.workdir, kind, _edir(epoch))
        if not os.path.isdir(src):
            return False
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(src, dst)
        return True

    def heal_staged(self, kind: str) -> list[int]:
        """Roll forward staged deltas of already-committed epochs
        (crash landed between the manifest commit and the publish
        rename); drop staged leftovers of uncommitted epochs (their
        epoch re-runs and rewrites the staging dir anyway).  Returns
        the epochs published."""
        base = os.path.join(self.workdir, kind)
        if not os.path.isdir(base):
            return []
        last = self.last_epoch()
        published = []
        for d in os.listdir(base):
            if not d.startswith(".staged_e_"):
                continue
            tag = d[len(".staged_e_"):]
            if not tag.isdigit():
                continue
            ep = int(tag)
            if ep <= last:
                if self.publish_staged(kind, ep):
                    published.append(ep)
            else:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        return published

    def write_rows_local(
        self, kind: str, rows: list[tuple], schema: StructType, epoch: int
    ) -> None:
        """Write a handful of DRIVER-side rows as a spark-readable
        parquet dir via pyarrow — no Spark job (a scheduling round
        trip for 4 metrics rows is pure fixed cost on the epoch's
        critical path)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        type_map = {
            "int": pa.int32(),
            "bigint": pa.int64(),
            "string": pa.string(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
        }
        fields = [
            pa.field(f.name, type_map[f.dataType.simpleString()], f.nullable)
            for f in schema.fields
        ]
        cols = {
            f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)
        }
        path = os.path.join(self.workdir, kind, _edir(epoch))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table(cols, schema=pa.schema(fields)),
            os.path.join(path, "part-00000.parquet"),
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def write_mor_delta(
        self,
        kind: str,
        enters: DataFrame | None,
        leaves: DataFrame | None,
        epoch: int,
        prev_size: int,
        key_col: str = "url_key",
    ) -> int:
        """Merge-on-read delta commit: persist only this epoch's
        entering rows and leaving keys.  Counts ride on Observations
        attached to the delta writes themselves (no read-back job);
        returns the resulting snapshot size
        (prev + n_enter - n_leave, exact because ``key_col`` is unique
        in the snapshot — enforced by config validation)."""
        from pyspark.sql import Observation

        path = os.path.join(self.workdir, kind, _edir(epoch))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        n_enter = n_leave = 0
        if enters is not None:
            obs = Observation()
            enters.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "enter"))
            try:
                n_enter = int(obs.get["n"])
            except Exception:  # noqa: BLE001 - statically-empty plans
                n_enter = int(
                    self.spark.read.parquet(
                        os.path.join(path, "enter")
                    ).count()
                )
        if leaves is not None:
            obs = Observation()
            leaves.select(F.col(key_col)).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(os.path.join(path, "leave"))
            try:
                n_leave = int(obs.get["n"])
            except Exception:  # noqa: BLE001
                n_leave = int(
                    self.spark.read.parquet(
                        os.path.join(path, "leave")
                    ).count()
                )
        size = max(int(prev_size) + n_enter - n_leave, 0)
        with open(os.path.join(path, MOR_META), "w") as f:
            json.dump(
                {"n_enter": n_enter, "n_leave": n_leave, "size": size,
                 "key_col": key_col},
                f,
            )
        open(os.path.join(path, "_SUCCESS"), "w").close()
        return size

    def _mor_meta(self, kind: str, epoch: int) -> dict | None:
        p = os.path.join(self.workdir, kind, _edir(epoch), MOR_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def snapshot_size_fast(self, kind: str, up_to: int) -> int | None:
        """O(1) snapshot cardinality when the newest epoch dir carries
        it (MOR meta); None when a full dir is newest (caller counts
        once and the next delta commit re-seeds the fast path)."""
        eps = self._epochs(kind, up_to)
        if not eps:
            return 0
        meta = self._mor_meta(kind, eps[-1])
        return None if meta is None else int(meta["size"])

    def _read_mor(
        self, kind: str, eps: list[int], schema: StructType | None
    ) -> DataFrame | None:
        """Assemble base ∪ enters minus tombstones.  A row entered at
        epoch e survives iff no leave for its key has epoch > e (a
        leave at e tombstones only pre-e rows, so a retry that leaves
        and re-enters in the same epoch survives — matching the
        full-rewrite semantics exactly)."""
        mor_eps: list[int] = []
        base_eps: list[int] = []
        for i in range(len(eps) - 1, -1, -1):
            if self._mor_meta(kind, eps[i]) is not None:
                mor_eps.append(eps[i])
            else:
                base_eps = eps[: i + 1]
                break
        mor_eps.sort()
        parts: list[DataFrame] = []
        key_col = "url_key"
        if base_eps:
            base = self.spark.read.parquet(
                os.path.join(self.workdir, kind, _edir(base_eps[-1]))
            )
            parts.append(base.withColumn("__ee", F.lit(-1)))
        # one multi-dir scan per side with the epoch recovered from the
        # file path — plan size stays O(1) in the delta-chain length
        # instead of an N-way union (the chain is re-read every epoch,
        # so plan growth compounds)
        # \d+ (not \d{5}): _edir's {epoch:05d} is a MINIMUM width, so
        # epoch >= 100000 produces 6-digit tags — a fixed-width match
        # would parse them to null and silently drop re-entered keys
        epoch_tag = F.regexp_extract(
            F.input_file_name(), r"/e_(\d+)/(?:enter|leave)/", 1
        ).cast("int")
        total_leaves = 0
        enter_dirs: list[str] = []
        leave_dirs: list[str] = []
        for e in mor_eps:
            meta = self._mor_meta(kind, e)
            key_col = meta.get("key_col", key_col)
            d = os.path.join(self.workdir, kind, _edir(e))
            if meta["n_enter"]:
                enter_dirs.append(os.path.join(d, "enter"))
            if meta["n_leave"]:
                total_leaves += int(meta["n_leave"])
                leave_dirs.append(os.path.join(d, "leave"))
        if enter_dirs:
            parts.append(
                self.spark.read.parquet(*enter_dirs)
                .withColumn("__ee", epoch_tag)
            )
        if not parts:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if leave_dirs:
            leaves = self.spark.read.parquet(*leave_dirs).withColumn(
                "__le", epoch_tag
            )
            tomb = leaves.groupBy(key_col).agg(F.max("__le").alias("__le"))
            if total_leaves <= _MOR_BROADCAST_MAX_KEYS:
                tomb = F.broadcast(tomb)
            out = (
                out.join(tomb, key_col, "left")
                .filter(F.col("__le").isNull() | (F.col("__le") <= F.col("__ee")))
                .drop("__le")
            )
        out = out.drop("__ee")
        if schema is not None:
            out = out.select(*[f.name for f in schema.fields])
        return out

    def mor_chain_stats(self, kind: str, up_to: int) -> tuple[int, int]:
        """(chain_len, delta_bytes) of the MOR delta chain above the
        newest full base — a driver-side metadata walk over
        O(chain) dirs, no Spark job.  Drives the churn-volume
        compaction triggers (frontier_compact_max_chain /
        frontier_compact_delta_bytes)."""
        eps = self._epochs(kind, up_to)
        chain = 0
        nbytes = 0
        for e in reversed(eps):
            if self._mor_meta(kind, e) is None:
                break
            chain += 1
            d = os.path.join(self.workdir, kind, _edir(e))
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    try:
                        nbytes += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
        return chain, nbytes

    def compact_snapshot(self, kind: str, epoch: int) -> int:
        """Collapse MOR history into one full dir at ``epoch``
        and drop the older dirs — bounds the epoch-dir walk the same
        way delta compaction bounds the delta union.  Crash-safe: the
        committed newest dir is replaced via _safe_replace_dir, and
        when it is already a plain full snapshot the older dirs are
        simply deleted with no Spark job at all."""
        eps = self._epochs(kind, epoch)
        if not eps:
            return 0
        newest_plain = self._mor_meta(kind, eps[-1]) is None
        if not newest_plain:
            merged = self.read_snapshot(kind, epoch)
            if merged is None:
                # all-empty chain (zero-churn MOR deltas over no base
                # — a drained or never-seeded frontier): nothing to rewrite; fold by keeping the
                # newest (empty) head and pruning the rest
                newest_plain = True
            else:
                self._safe_replace_dir(kind, merged, epoch)
        removed = 0
        keep = epoch if not newest_plain else eps[-1]
        for e in eps:
            if e != keep:
                shutil.rmtree(
                    os.path.join(self.workdir, kind, _edir(e)),
                    ignore_errors=True,
                )
                removed += 1
        return removed

    def rewrite(self, kind: str, df: DataFrame, epoch: int) -> None:
        """Overwrite an epoch dir with a DataFrame that may READ from
        that same dir.  Delegates to _safe_replace_dir: the write goes
        to a `__tmp` sibling first (localCheckpoint materializes the
        input before the live dir moves), then lands via renames — a
        crash at any point leaves committed state recoverable, where a
        plain overwrite would delete it before the replacement
        exists."""
        self._safe_replace_dir(kind, df, epoch)

    # -- reads --
    def _epochs(self, kind: str, up_to: int) -> list[int]:
        d = os.path.join(self.workdir, kind)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("e_") and name[2:].isdigit():
                e = int(name[2:])
                if e <= up_to and os.path.exists(
                    os.path.join(d, name, "_SUCCESS")
                ):
                    out.append(e)
        return sorted(out)

    def read_snapshot(
        self, kind: str, up_to: int, schema: StructType | None = None
    ) -> DataFrame | None:
        eps = self._epochs(kind, up_to)
        if not eps:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return None
        if self._mor_meta(kind, eps[-1]) is not None:
            return self._read_mor(kind, eps, schema)
        return self.spark.read.parquet(
            os.path.join(self.workdir, kind, _edir(eps[-1]))
        )

    def read_deltas(
        self, kind: str, up_to: int, schema: StructType | None = None
    ) -> DataFrame | None:
        eps = self._epochs(kind, up_to)
        if not eps:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return None
        paths = [os.path.join(self.workdir, kind, _edir(e)) for e in eps]
        return self.spark.read.parquet(*paths)

    def read_delta_single(
        self, kind: str, epoch: int, schema: StructType | None = None
    ) -> DataFrame | None:
        """Read exactly one epoch's delta dir (empty/None if absent) —
        used by writers that merge into the *current* epoch's delta
        without re-reading every older delta."""
        path = os.path.join(self.workdir, kind, _edir(epoch))
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return self.spark.read.parquet(path)
        if schema is not None:
            return self.spark.createDataFrame([], schema)
        return None

    def compact(self, kind: str, epoch: int) -> int:
        """Merge all delta dirs <= epoch into one dir at ``epoch`` and
        drop the older dirs (Iceberg snapshot-expiration analogue:
        trades per-epoch time travel below ``epoch`` for O(1) dirs).
        Returns the number of dirs compacted away."""
        eps = self._epochs(kind, epoch)
        if len(eps) <= 1:
            return 0
        merged = self.read_deltas(kind, epoch)
        self._safe_replace_dir(kind, merged, epoch)
        removed = 0
        for e in eps:
            if e != epoch:
                shutil.rmtree(
                    os.path.join(self.workdir, kind, _edir(e)),
                    ignore_errors=True,
                )
                removed += 1
        return removed

    def prune_beyond(self, epoch: int) -> None:
        """Drop uncommitted partial-epoch dirs (crash cleanup)."""
        for kind in SNAPSHOT_KINDS | DELTA_KINDS:
            d = os.path.join(self.workdir, kind)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                # same digit guard as _epochs: a leftover e_NNNNN__tmp /
                # __old dir that _recover_replacements failed to remove
                # (ignore_errors rmtree) must not crash resume
                if name.startswith("e_") and name[2:].isdigit() and int(
                    name[2:]
                ) > epoch:
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)
