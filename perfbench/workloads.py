"""The three benchmark workloads and the metrics they report.

Each workload runs whole rounds of the same operations until the timed
part has lasted ``seconds``; a round is sized so that one round is
normally enough.  Set-up (session start, input generation, the crawl
workloads' Python-worker start, seeding and, for ``frontier_standing``,
the warm-up epoch) is timed once, cold, from the process's start.  Every layer is timed from outside, around calls
into the engine's public functions; the traced run adds Spark's event
log and folds it by job description (``eventlog.py``).
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np

import eventlog
import oracles
import webgen

# --- workload settings; input shapes are in webgen.py ---
STANDING_TOKENS = 150  # per host per epoch: 3 600 URLs an epoch
STANDING_EPOCHS = 3  # timed steady epochs per round, after one warm-up
DISCOVER_TOKENS = 200
NEAR_THRESHOLD = 0.8  # dedupe_near's default Jaccard threshold
NEAR_RECALL_BOUND = 0.99  # near-dup recall of dedupe_near, exact oracle
IVF_CENTROIDS = 32
IVF_NPROBE = 2
TOPK = 10
RECALL_BOUND = 0.9  # recall@10 of the IVF batch ANN against numpy


def process_age() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if os.path.isfile(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


@dataclass
class Run:
    """What one run measured; turned into the printed metrics."""

    name: str
    work: str
    trace: bool = False
    spark: object = None
    cpus: int = 1
    setup_s: float = 0.0
    timed_s: float = 0.0
    rows: int = 0
    failed_rows: int = 0
    problems_seen: int = 0
    round_rates: list[float] = field(default_factory=list)
    state_bytes: int = 0
    problems: list[str] = field(default_factory=list)
    spans: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    epochs: list = field(default_factory=list)  # timed EpochResults
    epoch_labels: list[str] = field(default_factory=list)
    state_growth: tuple[int, int] = (0, 0)

    def label(self, text: str) -> None:
        self.spark.sparkContext.setJobDescription(text)

    @contextmanager
    def span(self, name: str, label: str | None = None):
        if label:
            self.label(label)
        t = time.monotonic()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.monotonic() - t

    def log(self, msg: str) -> None:
        print(f"[{process_age():7.2f}s] {self.name}: {msg}", file=sys.stderr,
              flush=True)

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def check(self, problems: list[str]) -> None:
        self.problems += problems

    def end_round(self, rows: int) -> None:
        """Count a round's ``rows`` as failed if one of its checks failed
        (the problems seen since the last round ended)."""
        if len(self.problems) > self.problems_seen:
            self.failed_rows += rows
        self.problems_seen = len(self.problems)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_spark(root: str, work: str, name: str, trace: bool, cpus: int):
    """A local SparkSession with at most ``nproc`` task threads whose
    scratch, temp files and event log all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Python workers must import the engine from this checkout
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from spider_man_spark import get_spark

    spark = get_spark(f"perfbench-{name}", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver process plus the Spark JVM."""
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    return (driver_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------


def warm_python_workers(run: Run) -> None:
    """Start every Python worker and import the parse stage's modules
    in it, so the first timed epoch does not pay for worker start-up
    (workers are reused across tasks)."""

    # nested, so that it is pickled by value: workers cannot import
    # this module
    def import_parse(batches):
        import spider_man_spark.sources.parse  # noqa: F401

        yield from batches

    run.label("bench: warm-up")
    run.spark.range(run.cpus, numPartitions=run.cpus).mapInPandas(
        import_parse, "id long").count()


def _corpus_df(spark, corpus):
    from spider_man_spark.schemas import CORPUS_SCHEMA

    df = spark.createDataFrame(corpus, CORPUS_SCHEMA).cache()
    df.count()
    return df


def _new_job(run: Run, corpus_df, tokens: int, rnd: int):
    from spider_man_spark.config import CrawlConfig
    from spider_man_spark.plans.job import CrawlJob

    workdir = os.path.join(run.work, f"crawl{rnd}")
    cfg = CrawlConfig(workdir=workdir, tokens_per_epoch=tokens, max_epochs=200)
    run.label("bench: job")
    return CrawlJob(run.spark, cfg, corpus=corpus_df), workdir


def _snapshots(run: Run, job) -> list[list[tuple[str, int]]]:
    """``(url_key, retries)`` rows of every committed frontier snapshot,
    epoch 0 (the seeds) through the last."""
    from spider_man_spark.schemas import FRONTIER_SCHEMA

    run.label("bench: check")
    out = []
    for e in range(job.store.last_epoch() + 1):
        pdf = job.store.read_snapshot("frontier", e, FRONTIER_SCHEMA).select(
            "url_key", "retries"
        ).toPandas()
        out.append(list(zip(pdf["url_key"], pdf["retries"].astype(int))))
    return out


def _log_epochs(run: Run, results) -> None:
    for r in results:
        run.log(
            f"epoch {r.epoch}: scheduled {r.scheduled} ok {r.fetched_ok} "
            f"admitted {r.new_requests} items {r.items} "
            f"frontier {r.frontier_size} ms {r.durations_ms}"
        )


def _timed_epochs(run: Run, workdir: str, epochs) -> list:
    """Run ``epochs()`` (which returns EpochResults) as the timed part
    of a round and record its rows, wall time and workdir growth."""
    before = tree_size(workdir)
    t = time.monotonic()
    results = epochs()
    wall = time.monotonic() - t
    after = tree_size(workdir)
    run.timed_s += wall
    run.state_growth = tuple(
        g + a - b for g, a, b in zip(run.state_growth, after, before))
    run.state_bytes = after[0]
    run.epochs += results
    run.epoch_labels += [f"epoch {r.epoch}:" for r in results]
    rows = sum(r.scheduled for r in results)
    run.rows += rows
    run.round_rates.append(rows / wall)
    _log_epochs(run, results)
    return results


def _check_epochs(run, snaps, results, status, host_of, budget):
    """Checks shared by both crawl workloads; returns the scheduled URLs
    of each epoch, derived from the frontier snapshots."""
    sched = [
        oracles.scheduled_between(snaps[e], snaps[e + 1])
        for e in range(len(snaps) - 1)
    ]
    flow = [{"scheduled": r.scheduled, "requeued": r.fetch_fail - r.dead,
             "admitted": r.new_requests} for r in results]
    run.check(oracles.check_frontier_counts([len(s) for s in snaps], flow))
    run.check([
        f"epoch {r.epoch}: engine scheduled {r.scheduled}, "
        f"frontier shows {len(s)}"
        for r, s in zip(results, sched) if r.scheduled != len(s)
    ])
    run.check(oracles.check_host_budget(sched, host_of, budget))
    run.check(oracles.check_no_double_fetch(sched, status))
    return sched


def frontier_standing(run: Run, seed: int, seconds: float) -> None:
    web = webgen.standing_hosts(seed)
    run.log(f"generated {len(web.corpus)} corpus rows")
    warm_python_workers(run)
    corpus_df = _corpus_df(run.spark, web.corpus)
    run.log("corpus cached")
    seeds_df = run.spark.createDataFrame(
        web.seeds[["url", "priority", "depth"]],
        "url string, priority int, depth int",
    ).cache()
    seeds_df.count()
    status = dict(zip(web.seeds["url"], web.seeds["status"].astype(int)))
    host_of = dict(zip(web.seeds["url"], web.seeds["host"]))
    want_first = oracles.first_slice(web.seeds, STANDING_TOKENS)

    rnd = 0
    while True:
        job, workdir = _new_job(run, corpus_df, STANDING_TOKENS, rnd)
        with run.span("job.seed_s", "bench: seed"):
            job.insert_requests_df(seeds_df)
        run.log("seeded")
        warm = job.step()
        _log_epochs(run, [warm])
        if rnd == 0:
            run.setup_s = process_age()
        timed = _timed_epochs(
            run, workdir, lambda: [job.step() for _ in range(STANDING_EPOCHS)])

        snaps = _snapshots(run, job)
        sched = _check_epochs(run, snaps, [warm] + timed, status, host_of,
                              STANDING_TOKENS)
        run.check(oracles.check_same_set("first epoch schedule", sched[0],
                                         want_first))
        n_last = job.frontier().count()
        if n_last != len(snaps[-1]):
            run.check([f"CrawlJob.frontier() holds {n_last} rows, "
                       f"snapshot {len(snaps[-1])}"])
        run.end_round(sum(r.scheduled for r in timed))
        rnd += 1
        if run.timed_s >= seconds:
            return


def crawl_discover(run: Run, seed: int, seconds: float) -> None:
    from spider_man_spark.schemas import SEEN_SCHEMA

    web = webgen.crawl_web(seed)
    run.log(f"generated {len(web.corpus)} corpus rows")
    warm_python_workers(run)
    corpus_df = _corpus_df(run.spark, web.corpus)
    run.log("corpus cached")
    seeds_df = run.spark.createDataFrame(
        [(u,) for u in web.seeds], "url string").cache()
    seeds_df.count()
    status = dict(zip(web.pages["url"], web.pages["status"].astype(int)))
    status.update({u: 200 for u in web.images["url"]})
    host_of = dict(zip(web.corpus["url"], web.corpus["host"]))
    ok_pages, failing, images = oracles.bfs_reach(
        web.seeds, web.links, status, web.page_image)
    sizes = {u: (int(w), int(h)) for u, w, h in web.images.itertuples(
        index=False)}
    want_items = {u: sizes[u] for u in images}

    rnd = 0
    while True:
        job, workdir = _new_job(run, corpus_df, DISCOVER_TOKENS, rnd)
        with run.span("job.seed_s", "bench: seed"):
            job.insert_requests_df(seeds_df)
        run.log("seeded")
        if rnd == 0:
            run.setup_s = process_age()
        results = _timed_epochs(
            run, workdir, lambda: job.run_until_zero()["results"])

        snaps = _snapshots(run, job)
        _check_epochs(run, snaps, results, status, host_of, DISCOVER_TOKENS)
        last = job.store.last_epoch()
        seen = job.store.read_deltas("seen", last, SEEN_SCHEMA).select(
            "url_key").toPandas()["url_key"]
        failed = job.failed().select("url_key").toPandas()["url_key"]
        fetched_ok = set(seen) - set(failed)
        run.check(oracles.check_same_set(
            "pages fetched OK", [u for u in fetched_ok if "/p/" in u],
            ok_pages))
        n_ok = sum(r.fetched_ok for r in results)
        if n_ok != len(ok_pages) + len(images):
            run.check([f"engine counted {n_ok} OK fetches, expected "
                       f"{len(ok_pages) + len(images)}"])
        run.check(oracles.check_same_set("dead letters", failed, failing))
        items = job.items().select("image_id", "w", "h").toPandas()
        run.check(oracles.check_items(
            {r.image_id: (r.w, r.h) for r in items.itertuples(index=False)},
            want_items))
        if job.frontier().count():
            run.check(["frontier not empty after the drain"])
        run.end_round(sum(r.scheduled for r in results))
        rnd += 1
        if run.timed_s >= seconds:
            return


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


@contextmanager
def grouped_spans(run: Run, stage: list[str]):
    """Time the ``operators/groups`` calls inside ``dedupe_near`` and
    ``image_dedup_keep`` (traced runs only).  Both import
    ``connected_components`` and ``keep_canonical`` from the module at
    call time, so wrapping the module attributes reaches them.  The
    wrapper materializes the pair edges first (under ``<stage>.pairs``),
    so pair generation and the components rounds are timed apart; that
    adds a checkpoint and a count the engine does not run, which is why
    the timed runs call the operators unwrapped."""
    from spider_man_spark.operators import groups

    orig_cc, orig_keep = groups.connected_components, groups.keep_canonical

    def connected_components(edges, *args, stats=None, **kw):
        st = {} if stats is None else stats
        with run.span(f"{stage[0]}.pairs_s", f"curate: {stage[0]} pairs"):
            edges = edges.localCheckpoint(eager=True)
            run.count(f"{stage[0]}.pairs", edges.count())
        with run.span("groups.components_s", "curate: groups components"):
            out = orig_cc(edges, *args, stats=st, **kw)
        run.count("groups.rounds", st.get("rounds", 0))
        return out

    def keep_canonical(*args, **kw):
        with run.span("groups.keep_s", "curate: groups keep"):
            return orig_keep(*args, **kw)

    groups.connected_components = connected_components
    groups.keep_canonical = keep_canonical
    try:
        yield
    finally:
        groups.connected_components = orig_cc
        groups.keep_canonical = orig_keep


def _curate_pass(run: Run, frames, out: str) -> None:
    """One curation pass: exact and near text dedup, image dedup, IVF
    index and batch ANN, each output written as parquet under ``out``."""
    from spider_man_spark.operators.imagededup import image_dedup_keep
    from spider_man_spark.operators.similarity import (
        ann_topk_ivf_batch,
        ivf_index,
    )
    from spider_man_spark.operators.textdedup import dedupe_exact, dedupe_near

    docs, images, vectors, queries = frames
    stage = [""]
    with grouped_spans(run, stage) if run.trace else nullcontext():
        with run.span("textdedup.exact_s", "curate: dedupe_exact"):
            exact = dedupe_exact(docs).cache()
            exact.count()
        stage[0] = "textdedup"
        with run.span("textdedup.near_s", "curate: dedupe_near"):
            dedupe_near(exact).write.parquet(f"{out}/docs")
        stage[0] = "imagededup"
        with run.span("imagededup.keep_s", "curate: image_dedup_keep"):
            image_dedup_keep(images).write.parquet(f"{out}/images")
    with run.span("similarity.fit_s", "curate: ivf_index"):
        indexed, centroids = ivf_index(vectors, n_centroids=IVF_CENTROIDS)
    with run.span("similarity.ann_s", "curate: ann_topk_ivf_batch"):
        ann_topk_ivf_batch(
            queries, indexed, centroids, k=TOPK, nprobe=IVF_NPROBE,
            vec_col="embedding",
        ).write.parquet(f"{out}/ann")
    exact.unpersist()


def _curate_frames(spark, data: webgen.CurateInputs) -> list:
    frames = [
        spark.createDataFrame(data.docs, "doc_id string, text string"),
        spark.createDataFrame(
            data.images,
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long",
        ),
        spark.createDataFrame(
            data.vectors, "vec_id long, embedding array<double>"),
        spark.createDataFrame(
            data.queries, "qid long, embedding array<double>"),
    ]
    for f in frames:
        f.cache().count()
    return frames


def curate(run: Run, seed: int, seconds: float) -> None:
    import pyarrow.parquet as pq

    data = webgen.curate_inputs(seed)
    frames = _curate_frames(run.spark, data)
    run.setup_s = process_age()

    ids, texts = list(data.docs["doc_id"]), list(data.docs["text"])
    text_of = dict(zip(ids, texts))
    doc_comps = oracles.near_dup_components(
        ids, texts, NEAR_THRESHOLD, webgen.SHINGLE_K)
    planted: dict[int, list[str]] = {}
    for x, c in data.doc_cluster.items():
        planted.setdefault(c, []).append(x)
    # a check of the generator: the exact oracle finds the planted clusters
    run.check(oracles.check_same_set(
        "exact near-dup components", map(tuple, doc_comps),
        {tuple(sorted(c)) for c in planted.values()}))
    want_images, _ = oracles.hamming_keep(
        list(data.images["image_id"]), data.images["phash"].to_numpy(),
        list(data.images["bytes"]))
    vec = np.array(data.vectors["embedding"].tolist())
    qv = np.array(data.queries["embedding"].tolist())
    exact_idx, _ = oracles.exact_topk(vec, qv, TOPK)
    n_rows = len(data.docs) + len(data.images) + len(data.queries)

    rnd = 0
    while True:
        out = os.path.join(run.work, f"curate{rnd}")
        t = time.monotonic()
        _curate_pass(run, frames, out)
        wall = time.monotonic() - t
        run.timed_s += wall
        run.round_rates.append(n_rows / wall)
        run.log("spans " + " ".join(
            f"{k}={v:.2f}" for k, v in sorted(run.spans.items())))
        run.rows += n_rows

        run.label("bench: check")
        kept_docs = pq.read_table(f"{out}/docs", columns=["doc_id"])
        problems, near_recall = oracles.check_kept_docs(
            kept_docs.column("doc_id").to_pylist(), text_of, doc_comps,
            NEAR_RECALL_BOUND)
        run.check(problems)
        run.counts["textdedup.near_recall"] = near_recall
        kept_imgs = pq.read_table(f"{out}/images", columns=["image_id"])
        run.check(oracles.check_same_set(
            "kept images", kept_imgs.column("image_id").to_pylist(),
            want_images))
        ann = pq.read_table(f"{out}/ann").to_pandas()
        rows = list(zip(ann["qid"], ann["vec_id"], ann["cosine"]))
        run.check(oracles.check_cosines(rows, vec, qv))
        recall = oracles.recall_at_k(rows, exact_idx)
        run.counts["similarity.recall_at_10"] = recall
        if recall < RECALL_BOUND:
            run.check([f"recall@{TOPK} {recall:.3f} < {RECALL_BOUND}"])
        run.state_bytes = tree_size(out)[0]
        run.end_round(n_rows)
        rnd += 1
        if run.timed_s >= seconds:
            return


WORKLOADS = {
    "frontier_standing": frontier_standing,
    "crawl_discover": crawl_discover,
    "curate": curate,
}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def per_layer(run: Run, folded: dict[str, eventlog.LabelStats]) -> dict:
    """Every per-layer metric; layers a workload does not use read 0."""
    mb = 1e6
    per_epoch = 1 / len(run.epochs) if run.epochs else 0.0
    labels = sorted(set(run.epoch_labels))

    def phase(*names: str) -> eventlog.LabelStats:
        """Timed epochs' jobs whose ``epoch N: <phase>`` starts with one
        of ``names``."""
        return eventlog.merge([
            s for label, s in folded.items()
            if label.startswith(tuple(labels))
            and label.split(": ", 1)[1].startswith(names)
        ])

    def dur(key: str) -> list[int]:
        return [r.durations_ms.get(key, 0) for r in run.epochs]

    m: dict[str, float] = {"job.seed_s": run.spans.get("job.seed_s", 0.0)}
    walls = dur("epoch")
    epochs = [eventlog.merge([s for label, s in folded.items()
                              if label.startswith(p)]) for p in labels]
    m["epoch.wall_ms_p50"] = statistics.median(walls) if walls else 0.0
    m["epoch.jobs"] = sum(s.jobs for s in epochs) * per_epoch
    m["epoch.driver_gap_ms"] = (
        sum(walls) - sum(eventlog.union_ms(s.intervals) for s in epochs)
    ) * per_epoch
    m["epoch.empty_ms"] = _mean(
        w for w, r in zip(walls, run.epochs) if r.scheduled == 0)
    for key in ("downloader", "spider"):
        s = phase(key)
        m[f"{key}.ms"] = _mean(dur(key))
        m[f"{key}.jobs"] = s.jobs * per_epoch
        m[f"{key}.cpu_ms"] = s.cpu_ns / 1e6 * per_epoch
        m[f"{key}.shuffle_mb"] = s.shuffle_write / mb * per_epoch
    m["spider.admitted"] = sum(r.new_requests for r in run.epochs)
    m["items.ms"] = _mean(dur("item_processor"))
    m["items.jobs"] = phase("item-processor").jobs * per_epoch
    m["items.decoded"] = sum(r.items for r in run.epochs)
    m["commit.ms"] = _mean(
        e - d - sp - i for e, d, sp, i in zip(
            walls, dur("downloader"), dur("spider"), dur("item_processor")))
    m["commit.jobs"] = phase("frontier-commit", "write").jobs * per_epoch
    m["state.write_mb_per_epoch"] = run.state_growth[0] / mb * per_epoch
    m["state.files_per_epoch"] = run.state_growth[1] * per_epoch
    for name in ("textdedup.exact_s", "textdedup.pairs_s",
                 "groups.components_s", "groups.keep_s", "imagededup.keep_s",
                 "similarity.fit_s", "similarity.ann_s"):
        m[name] = run.spans.get(name, 0.0)
    for name in ("textdedup.pairs", "textdedup.near_recall", "groups.rounds",
                 "imagededup.pairs", "similarity.recall_at_10"):
        m[name] = run.counts.get(name, 0)
    whole = eventlog.merge([
        s for label, s in folded.items() if not label.startswith("bench: check")
    ])
    m["spark.tasks"] = whole.tasks
    m["spark.shuffle_write_mb"] = whole.shuffle_write / mb
    m["spark.spill_mb"] = whole.spill / mb
    m["spark.executor_cpu_s"] = whole.cpu_ns / 1e9
    m["trace.rows_per_s"] = statistics.median(run.round_rates)
    return m


PER_LAYER_UNITS = {
    "job.seed_s": "s",
    "epoch.wall_ms_p50": "ms",
    "epoch.jobs": "count",
    "epoch.driver_gap_ms": "ms",
    "epoch.empty_ms": "ms",
    "downloader.ms": "ms",
    "downloader.jobs": "count",
    "downloader.cpu_ms": "ms",
    "downloader.shuffle_mb": "MB",
    "spider.ms": "ms",
    "spider.jobs": "count",
    "spider.cpu_ms": "ms",
    "spider.shuffle_mb": "MB",
    "spider.admitted": "count",
    "items.ms": "ms",
    "items.jobs": "count",
    "items.decoded": "count",
    "commit.ms": "ms",
    "commit.jobs": "count",
    "state.write_mb_per_epoch": "MB",
    "state.files_per_epoch": "count",
    "textdedup.exact_s": "s",
    "textdedup.pairs_s": "s",
    "textdedup.pairs": "count",
    "textdedup.near_recall": "ratio",
    "groups.components_s": "s",
    "groups.rounds": "count",
    "groups.keep_s": "s",
    "imagededup.keep_s": "s",
    "imagededup.pairs": "count",
    "similarity.fit_s": "s",
    "similarity.ann_s": "s",
    "similarity.recall_at_10": "ratio",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_cpu_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.rows_per_s": "rows/s",
}


def run_workload(root: str, name: str, seed: int, seconds: float,
                 trace: bool) -> dict:
    """Run one workload and return the result object to print."""
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(name=name, work=work, trace=trace,
              cpus=len(os.sched_getaffinity(0)))
    run.spark = start_spark(root, work, name, trace, run.cpus)
    run.log("session started")
    try:
        WORKLOADS[name](run, seed, seconds)
        rss = peak_rss_mb(run.spark) if trace else None
        run.log(f"done: setup {run.setup_s:.2f}s timed {run.timed_s:.2f}s "
                f"rows {run.rows}")
    finally:
        stop_spark(run.spark)
    if trace:
        folded = eventlog.fold(
            eventlog.read_events(os.path.join(work, "eventlog")))
        values = per_layer(run, folded)
        values["process.peak_rss_mb"] = rss
        metrics = {
            k: {"value": values[k], "unit": u}
            for k, u in PER_LAYER_UNITS.items()
        }
    else:
        metrics = {
            "setup_s": {"value": run.setup_s, "unit": "s"},
            "rows_per_s": {"value": statistics.median(run.round_rates),
                           "unit": "rows/s"},
            "state_mb": {"value": run.state_bytes / 1e6, "unit": "MB"},
        }
    for p in run.problems:
        print(f"check failed: {p}", flush=True)
    return {
        "correct": not run.problems,
        "attempted": run.rows,
        "failed": run.failed_rows,
        "metrics": metrics,
    }
