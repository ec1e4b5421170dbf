"""Tests for the benchmark's own oracles and checkers.

Each checker is fed a correct result (it must pass) and the same result
with one planted fault (it must fail).  The oracles are run on small
hand-built inputs whose answers are written down here.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import oracles  # noqa: E402
import webgen  # noqa: E402
import workloads  # noqa: E402

# --- a hand-built web -------------------------------------------------------
#
#   a0 -> a1, a2, b0        a1 -> a3        a2 (404)  -> a4
#   a3 -> a1, a0.png        b0 -> b1        b1 (500)
#   a4: only linked from the 404 page, so never reached
#   c0: links into the web but nothing links to it
LINKS = {
    "a0": ["a1", "a2", "b0"],
    "a1": ["a3"],
    "a2": ["a4"],
    "a3": ["a1"],
    "a4": [],
    "b0": ["b1"],
    "b1": [],
    "c0": ["a0"],
}
STATUS = {"a0": 200, "a1": 200, "a2": 404, "a3": 200, "a4": 200,
          "b0": 200, "b1": 500, "c0": 200}
IMAGES = {"a3": "a0.png", "a4": "a4.png"}


def test_bfs_reach_hand_built_graph():
    ok, failing, images = oracles.bfs_reach(["a0"], LINKS, STATUS, IMAGES)
    assert ok == {"a0", "a1", "a3", "b0"}
    assert failing == {"a2", "b1"}
    assert images == {"a0.png"}


def test_bfs_reach_from_two_seeds():
    ok, failing, _ = oracles.bfs_reach(["b1", "c0"], LINKS, STATUS, IMAGES)
    assert ok == {"c0", "a0", "a1", "a3", "b0"}
    assert failing == {"b1", "a2"}


def test_reachable_page_never_fetched_fails():
    ok, _, _ = oracles.bfs_reach(["a0"], LINKS, STATUS, IMAGES)
    fetched = ["a0", "a1", "a3", "b0"]
    assert oracles.check_same_set("pages", fetched, ok) == []
    problems = oracles.check_same_set("pages", ["a0", "a1", "b0"], ok)
    assert problems and "missing 1: a3" in problems[0]


def test_extra_and_repeated_members_fail():
    assert oracles.check_same_set("x", ["a", "b", "c"], {"a", "b"})
    assert oracles.check_same_set("x", ["a", "b", "b"], {"a", "b"})


# --- scheduling checkers ----------------------------------------------------

HOST = {"a0": "a", "a1": "a", "a2": "a", "a3": "a", "b0": "b", "b1": "b"}


def test_url_fetched_twice_fails():
    sched = [["a0", "b0"], ["a1", "a2", "b1"], ["a2", "a3"]]
    # a2 answers 404: scheduling it again is its retry, not a refetch
    assert oracles.check_no_double_fetch(sched, STATUS) == []
    sched[2].append("a1")
    problems = oracles.check_no_double_fetch(sched, STATUS)
    assert problems and "a1" in problems[0]


def test_host_over_budget_fails():
    sched = [["a0", "b0"], ["a1", "a2", "b1"]]
    assert oracles.check_host_budget(sched, HOST, 2) == []
    sched[1].append("a3")
    problems = oracles.check_host_budget(sched, HOST, 2)
    assert problems and problems[0].startswith("epoch 1:")


def test_scheduled_between_snapshots():
    before = [("a0", 3), ("a1", 3), ("a2", 3), ("b0", 3)]
    # a0 and b0 fetched OK; a2 failed and came back with a retry less;
    # a3 admitted; a1 left alone
    after = [("a1", 3), ("a2", 2), ("a3", 3)]
    assert oracles.scheduled_between(before, after) == ["a0", "a2", "b0"]


def test_frontier_count_mismatch_fails():
    counts = [4, 3, 1]
    flow = [
        {"scheduled": 3, "requeued": 1, "admitted": 1},
        {"scheduled": 3, "requeued": 0, "admitted": 1},
    ]
    assert oracles.check_frontier_counts(counts, flow) == []
    flow[1]["admitted"] = 2
    assert oracles.check_frontier_counts(counts, flow)


def test_first_slice_orders_by_priority_depth_url():
    seeds = pd.DataFrame({
        "url": ["u1", "u2", "u3", "u4", "v1", "v2"],
        "host": ["u", "u", "u", "u", "v", "v"],
        "priority": [1, 0, 0, 0, 5, 5],
        "depth": [0, 2, 1, 1, 0, 0],
    })
    assert oracles.first_slice(seeds, 2) == {"u3", "u4", "v1", "v2"}
    assert oracles.first_slice(seeds, 1) == {"u3", "v1"}


def test_items_with_wrong_size_fail():
    want = {"a0.png": (8, 9)}
    assert oracles.check_items({"a0.png": (8, 9)}, want) == []
    assert oracles.check_items({"a0.png": (9, 8)}, want)


# --- duplicate oracles and checkers -----------------------------------------


def test_hamming_keep_hand_built_table():
    ids = ["i0", "i1", "i2", "i3", "i4", "i5"]
    phash = np.array([
        0b0000,           # i0
        0b0111,           # i1: 3 bits from i0
        0b0111_1000,      # i2: 4 bits from i0, 7 from i1
        -1,               # i3: all 64 bits set
        -1 ^ 0b11,        # i4: 2 bits from i3
        0b0111_1001,      # i5: 1 bit from i2
    ], dtype=np.int64)
    kept, pairs = oracles.hamming_keep(ids, phash)
    assert kept == {"i0", "i2", "i3"}
    assert pairs == 3  # (i0,i1), (i2,i5), (i3,i4)
    # byte-identical content joins i1 and i2 and so {i0,i1} with {i2,i5}
    content = [b"x", b"y", b"y", b"z", b"w", b"v"]
    kept, _ = oracles.hamming_keep(ids, phash, content)
    assert kept == {"i0", "i3"}


# d1..d6: d1, d2 (same text up to case and spacing) and d3 (one
# word of ten replaced, 5-shingle Jaccard 5/7) form one component at
# threshold 0.7; d4 and d5 share 1 of their 5 distinct shingles
# (Jaccard 0.2); d6 shares nothing.
BASE = "a b c d e f g h i j"
DOCS = {
    "d1": BASE,
    "d2": "A B  C D E F G H I J",
    "d3": "a b c d e f g h i X",
    "d4": "p q r s t u v",
    "d5": "r s t u v w x",
    "d6": "z",
}


def test_near_dup_components_hand_built_table():
    ids, texts = list(DOCS), list(DOCS.values())
    comps = oracles.near_dup_components(ids, texts, threshold=0.7, k=5)
    assert sorted(comps) == [["d1", "d2", "d3"], ["d4"], ["d5"], ["d6"]]
    comps = oracles.near_dup_components(ids, texts, threshold=0.2, k=5)
    assert sorted(comps) == [["d1", "d2", "d3"], ["d4", "d5"], ["d6"]]
    assert oracles.shingles("z", 5) == {"z"}


def test_one_extra_duplicate_kept_fails():
    comps = oracles.near_dup_components(list(DOCS), list(DOCS.values()),
                                        threshold=0.7, k=5)
    ok, recall = oracles.check_kept_docs(
        ["d1", "d4", "d5", "d6"], DOCS, comps, 0.99)
    assert ok == [] and recall == 1.0
    # an extra exact copy (d2 has d1's normalized text)
    problems, _ = oracles.check_kept_docs(
        ["d1", "d2", "d4", "d5", "d6"], DOCS, comps, 0.0)
    assert problems and "exact duplicates kept: 1" in problems[0]
    # an extra near copy: 1 of the 1 redundant distinct texts kept
    problems, recall = oracles.check_kept_docs(
        ["d1", "d3", "d4", "d5", "d6"], DOCS, comps, 0.99)
    assert recall == 0.0 and problems and "near-dup recall" in problems[0]
    # over-merged: d5 removed although nothing is near it
    problems, _ = oracles.check_kept_docs(["d1", "d4", "d6"], DOCS, comps,
                                          0.99)
    assert problems and "lost their smallest id: d5" in problems[0]


def test_near_copies_span_the_planted_jaccards():
    base = [f"w{i}" for i in range(webgen.WORDS_PER_DOC)]
    k = webgen.SHINGLE_K
    n = webgen.WORDS_PER_DOC - k + 1
    a = oracles.shingles(" ".join(base), k)
    for d in range(1, k + 2):
        for front in (True, False):
            b = oracles.shingles(
                " ".join(webgen._near_copy(base, d, front, "zz")), k)
            assert len(a - b) == d
            assert len(a & b) / len(a | b) == (n - d) / (n + d) > 0.8


def test_popcount64_matches_python():
    x = np.array([0, 1, -1, 0x5555, -(1 << 63)], dtype=np.int64)
    assert oracles.popcount64(x).tolist() == [0, 1, 64, 8, 1]


# --- vector checkers ----------------------------------------------------------

VEC = np.array([[1.0, 0.0], [0.0, 2.0], [1.0, 1.0]])
QRY = np.array([[2.0, 0.0], [0.0, 0.0]])


def test_one_wrong_cosine_fails():
    rows = [(0, 0, 1.0), (0, 2, 0.707107), (1, 1, 0.0)]
    assert oracles.check_cosines(rows, VEC, QRY) == []
    rows[1] = (0, 2, 0.70722)
    problems = oracles.check_cosines(rows, VEC, QRY)
    assert problems and "query 0 vector 2" in problems[0]


def test_exact_topk_and_recall():
    idx, cos = oracles.exact_topk(VEC, QRY[:1], 2)
    assert idx.tolist() == [[0, 2]]
    assert np.isclose(cos[0, 2], 2 ** -0.5)
    assert oracles.recall_at_k([(0, 0, 1.0), (0, 1, 0.0)], idx) == 0.5


# --- generators and the event-log fold --------------------------------------


def test_generators_depend_only_on_the_seed():
    a, b = webgen.crawl_web(7), webgen.crawl_web(7)
    assert a.corpus.equals(b.corpus) and a.links == b.links
    assert not a.corpus.equals(webgen.crawl_web(8).corpus)
    c, d = webgen.curate_inputs(7), webgen.curate_inputs(7)
    assert c.docs.equals(d.docs) and c.images.equals(d.images)
    assert c.vectors.equals(d.vectors)


def test_curate_oracle_finds_the_planted_clusters():
    data = webgen.curate_inputs(3)
    comps = oracles.near_dup_components(
        list(data.docs["doc_id"]), list(data.docs["text"]), 0.8,
        webgen.SHINGLE_K)
    planted: dict[int, list[str]] = {}
    for x, c in data.doc_cluster.items():
        planted.setdefault(c, []).append(x)
    assert sorted(comps) == sorted(sorted(c) for c in planted.values())


def test_png_bytes_is_a_valid_png():
    import zlib

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    data = webgen.png_bytes(px)
    assert data[:8] == webgen.PNG_SIG
    idat = data[8 + 25 + 8: -12 - 4]
    raw = zlib.decompress(idat)
    assert raw == b"\x00" + px[0].tobytes() + b"\x00" + px[1].tobytes()


def test_union_ms_and_fold():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 100, "Properties": {eventlog.DESC: "epoch 1: spider"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {eventlog.DESC: "epoch 1: spider"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor CPU Time": 2_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 150},
    ]
    s = eventlog.fold(events)["epoch 1: spider"]
    assert (s.jobs, s.tasks, s.cpu_ns, s.shuffle_write, s.spill) == (
        1, 1, 2_000_000, 10, 3)
    assert s.intervals == [(100, 150)]


def test_benchmark_json_lists_the_per_layer_metrics_printed():
    import json

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed == workloads.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
