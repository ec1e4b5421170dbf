"""Oracles and checkers: expected results computed apart from the engine.

Oracles derive what a correct engine must produce from the generated
tables alone (plain Python, numpy and DuckDB).  Checkers compare an
engine result with an oracle or with a required property and return a
list of problems; an empty list is a pass.  Nothing here imports Spark
or the engine, so the checkers can be tested on hand-built faults.
"""

from __future__ import annotations

from collections import Counter, deque
from collections.abc import Iterable, Mapping

import numpy as np

# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def bfs_reach(
    seeds: Iterable[str],
    links: Mapping[str, list[str]],
    status: Mapping[str, int],
    page_image: Mapping[str, str] | None = None,
) -> tuple[set[str], set[str], set[str]]:
    """Breadth-first search from ``seeds`` through status-200 pages.

    Returns ``(ok_pages, failing_pages, images)``: the reachable pages
    that answer 200, the reachable pages that answer anything else
    (they are fetched but not expanded), and the distinct images
    embedded in the OK pages.  A URL missing from ``status`` is treated
    as not in the web and is neither fetched OK nor expanded."""
    page_image = page_image or {}
    seen = set(seeds)
    queue = deque(seen)
    ok: set[str] = set()
    failing: set[str] = set()
    images: set[str] = set()
    while queue:
        u = queue.popleft()
        if status.get(u) != 200:
            failing.add(u)
            continue
        ok.add(u)
        if u in page_image:
            images.add(page_image[u])
        for v in links.get(u, ()):
            if v not in seen:
                seen.add(v)
                queue.append(v)
    return ok, failing, images


def first_slice(seeds, budget: int) -> set[str]:
    """The first epoch's schedule: each host's first ``budget`` seeds in
    ``(priority, depth, url)`` order, computed in DuckDB from the seed
    table (a pandas frame with url, host, priority and depth)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("seeds", seeds[["url", "host", "priority", "depth"]])
        rows = con.execute(
            """
            SELECT url FROM (
              SELECT url, row_number() OVER (
                PARTITION BY host ORDER BY priority, depth, url) AS rn
              FROM seeds)
            WHERE rn <= ?
            """,
            [budget],
        ).fetchall()
    finally:
        con.close()
    return {r[0] for r in rows}


def scheduled_between(
    before: Iterable[tuple[str, int]], after: Iterable[tuple[str, int]]
) -> list[str]:
    """URLs scheduled by one epoch, from two frontier snapshots of
    ``(url_key, retries)`` rows.  A scheduled row leaves the frontier
    or comes back with one retry fewer, so its ``(url_key, retries)``
    row is in ``before`` and not in ``after``; admitted rows are new
    keys and only in ``after``."""
    left = Counter(before) - Counter(after)
    return sorted(k for (k, _r), n in left.items() for _ in range(n))


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Bit count of each element of an int64/uint64 array."""
    b = np.ascontiguousarray(x, dtype=np.uint64).view(np.uint8)
    return _POP8[b].reshape(-1, 8).sum(axis=1)


class UnionFind:
    def __init__(self, n: int) -> None:
        self.parent = list(range(n))

    def find(self, i: int) -> int:
        while self.parent[i] != i:
            self.parent[i] = self.parent[self.parent[i]]
            i = self.parent[i]
        return i

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def hamming_keep(
    ids: list[str],
    phash: np.ndarray,
    content: list[bytes] | None = None,
    max_hamming: int = 3,
) -> tuple[set[str], int]:
    """Brute-force image dedup: union every pair within ``max_hamming``
    phash bits (and every byte-identical pair when ``content`` is
    given), then keep the smallest id of each component.  Returns
    ``(kept_ids, near_pairs)``."""
    n = len(ids)
    ph = np.asarray(phash).astype(np.int64).view(np.uint64)
    uf = UnionFind(n)
    pairs = 0
    for i in range(n - 1):
        d = popcount64(ph[i + 1:] ^ ph[i])
        for j in np.nonzero(d <= max_hamming)[0]:
            uf.union(i, i + 1 + int(j))
            pairs += 1
    if content is not None:
        first: dict[bytes, int] = {}
        for i, b in enumerate(content):
            uf.union(first.setdefault(b, i), i)
    best: dict[int, str] = {}
    for i, x in enumerate(ids):
        r = uf.find(i)
        if r not in best or x < best[r]:
            best[r] = x
    return set(best.values()), pairs


def shingles(text: str, k: int) -> frozenset[str]:
    """``k``-word shingles of the text lower-cased with its whitespace
    collapsed; a text shorter than ``k`` words is its own shingle."""
    words = " ".join(text.lower().split()).split(" ")
    if len(words) < k:
        return frozenset([" ".join(words)])
    return frozenset(
        " ".join(words[i:i + k]) for i in range(len(words) - k + 1))


def near_dup_components(
    ids: list[str], texts: list[str], threshold: float = 0.8, k: int = 5
) -> list[list[str]]:
    """Exact near-dup oracle: union every two documents whose ``k``-word
    shingle sets have Jaccard >= ``threshold`` (equal normalized texts
    have Jaccard 1), and return the components, each a sorted id list.
    Pairs with no shingle in common have Jaccard 0, so candidates come
    from a shingle -> documents index and every candidate's Jaccard is
    computed exactly."""
    sets = [shingles(t, k) for t in texts]
    by_shingle: dict[str, list[int]] = {}
    for i, sh in enumerate(sets):
        for g in sh:
            by_shingle.setdefault(g, []).append(i)
    uf = UnionFind(len(ids))
    for i, sh in enumerate(sets):
        cands = {j for g in sh for j in by_shingle[g] if j > i}
        for j in cands:
            inter = len(sh & sets[j])
            if inter / (len(sh) + len(sets[j]) - inter) >= threshold:
                uf.union(i, j)
    comps: dict[int, list[str]] = {}
    for i, x in enumerate(ids):
        comps.setdefault(uf.find(i), []).append(x)
    return [sorted(c) for c in comps.values()]


def exact_topk(
    vectors: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-``k`` by numpy: ``(indices, cosine matrix)``,
    ties broken by the smaller index."""
    vn = np.linalg.norm(vectors, axis=1)
    qn = np.linalg.norm(queries, axis=1)
    vn[vn == 0] = 1.0
    qn[qn == 0] = 1.0
    cos = (queries @ vectors.T) / np.outer(qn, vn)
    idx = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return idx, cos


# ---------------------------------------------------------------------------
# checkers: each returns a list of problems, empty on a pass
# ---------------------------------------------------------------------------


def _head(items, n: int = 3) -> str:
    items = sorted(items)
    more = f" (+{len(items) - n} more)" if len(items) > n else ""
    return ", ".join(map(str, items[:n])) + more


def check_no_double_fetch(
    scheduled_by_epoch: list[list[str]], status: Mapping[str, int]
) -> list[str]:
    """No URL that answers 200 is scheduled (and so fetched OK) twice."""
    n = Counter(
        u for sched in scheduled_by_epoch for u in sched if status.get(u) == 200
    )
    twice = [u for u, c in n.items() if c > 1]
    return [f"fetched OK more than once: {_head(twice)}"] if twice else []


def check_host_budget(
    scheduled_by_epoch: list[list[str]],
    host_of: Mapping[str, str],
    budget: int,
) -> list[str]:
    """No host is scheduled more than ``budget`` URLs in one epoch."""
    out = []
    for e, sched in enumerate(scheduled_by_epoch):
        over = {
            h: c for h, c in Counter(host_of[u] for u in sched).items()
            if c > budget
        }
        if over:
            out.append(f"epoch {e}: hosts over budget {budget}: {_head(over.items())}")
    return out


def check_same_set(name: str, got: Iterable, want: Iterable) -> list[str]:
    """``got`` equals ``want`` as a set, and ``got`` has no repeats."""
    got = list(got)
    g, w = set(got), set(want)
    out = []
    if len(got) != len(g):
        rep = [x for x, c in Counter(got).items() if c > 1]
        out.append(f"{name}: repeated: {_head(rep)}")
    if w - g:
        out.append(f"{name}: missing {len(w - g)}: {_head(w - g)}")
    if g - w:
        out.append(f"{name}: unexpected {len(g - w)}: {_head(g - w)}")
    return out


def check_kept_docs(
    kept: Iterable[str],
    text_of: Mapping[str, str],
    components: list[list[str]],
    recall_bound: float,
) -> tuple[list[str], float]:
    """Check the documents an exact-then-near dedup pass kept against
    the exact oracle's ``components``.  Nothing may be over-merged: the
    smallest id of every component is kept.  No two kept documents have
    the same normalized text.  Near dedup may miss pairs (MinHash LSH is
    approximate), so extra near copies are allowed while the near
    recall -- the share of the redundant distinct texts that the pass
    removed -- is at least ``recall_bound``.  Returns ``(problems,
    recall)``."""
    kept = list(kept)
    out: list[str] = []
    rep = [x for x, c in Counter(kept).items() if c > 1]
    if rep:
        out.append(f"kept documents: repeated: {_head(rep)}")
    unknown = set(kept) - set(text_of)
    if unknown:
        out.append(f"kept documents: unknown ids: {_head(unknown)}")
    lost = {c[0] for c in components} - set(kept)
    if lost:
        out.append(f"kept documents: {len(lost)} components lost their "
                   f"smallest id: {_head(lost)}")
    norm = Counter(" ".join(text_of[x].lower().split())
                   for x in set(kept) - unknown)
    if any(n > 1 for n in norm.values()):
        out.append("kept documents: exact duplicates kept: "
                   f"{sum(n - 1 for n in norm.values())}")
    distinct = len({" ".join(t.lower().split()) for t in text_of.values()})
    redundant = distinct - len(components)
    removed = distinct - len(set(kept))
    recall = removed / redundant if redundant else 1.0
    if recall < recall_bound:
        out.append(f"near-dup recall {recall:.4f} < {recall_bound}: "
                   f"{redundant - removed} near copies kept")
    return out, recall


def check_frontier_counts(
    counts: list[int], results: list[Mapping[str, int]]
) -> list[str]:
    """``counts[e+1] == counts[e] - scheduled + requeued + admitted`` for
    every epoch, where ``results[e]`` holds that epoch's ``scheduled``,
    ``requeued`` and ``admitted`` counts."""
    out = []
    for e, r in enumerate(results):
        want = counts[e] - r["scheduled"] + r["requeued"] + r["admitted"]
        if counts[e + 1] != want:
            out.append(
                f"epoch {e}: frontier holds {counts[e + 1]} rows, "
                f"expected {want}"
            )
    return out


def check_items(
    items: Mapping[str, tuple[int, int]], want: Mapping[str, tuple[int, int]]
) -> list[str]:
    """Items equal the expected images, each with its (width, height)."""
    out = check_same_set("items", items, want)
    bad = [u for u in set(items) & set(want) if tuple(items[u]) != tuple(want[u])]
    if bad:
        out.append(f"items with wrong size: {_head(bad)}")
    return out


def check_cosines(
    rows: Iterable[tuple[int, int, float]],
    vectors: np.ndarray,
    queries: np.ndarray,
    tol: float = 1e-5,
) -> list[str]:
    """Every returned ``(qid, vec_id, cosine)`` matches numpy's cosine
    within ``tol``."""
    rows = list(rows)
    if not rows:
        return ["no ANN results"]
    q = np.array([r[0] for r in rows])
    v = np.array([r[1] for r in rows])
    got = np.array([r[2] for r in rows], dtype=np.float64)
    a, b = queries[q], vectors[v]
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    na[na == 0] = 1.0
    nb[nb == 0] = 1.0
    want = (a * b).sum(axis=1) / (na * nb)
    bad = np.nonzero(np.abs(got - want) > tol)[0]
    if len(bad):
        i = int(bad[0])
        return [
            f"{len(bad)} cosines off by more than {tol}: query {q[i]} "
            f"vector {v[i]} got {got[i]:.7f} want {want[i]:.7f}"
        ]
    return []


def recall_at_k(
    rows: Iterable[tuple[int, int, float]], exact_idx: np.ndarray
) -> float:
    """Mean share of each query's exact top-k found in the returned
    ``(qid, vec_id, cosine)`` rows."""
    got: dict[int, set[int]] = {}
    for q, v, _c in rows:
        got.setdefault(int(q), set()).add(int(v))
    k = exact_idx.shape[1]
    hits = [
        len(got.get(q, set()) & set(map(int, exact_idx[q]))) / k
        for q in range(exact_idx.shape[0])
    ]
    return float(np.mean(hits))
