"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pandas and depends only on the seed: the
same seed gives byte-identical tables.  Nothing is imported from the
engine, so the expected results the oracles derive from these tables
owe nothing to the code under test.

* :func:`crawl_web` — a web in the engine's corpus schema
  (``url, host, status, content_type, body, links, caption,
  crawl_delay_ms, set_cookie``) plus the link and image tables the
  oracles walk.
* :func:`standing_hosts` — a skewed host set whose every page is a seed
  and links only to other seeds.
* :func:`curate_inputs` — documents, images and vectors with planted
  exact and near duplicates.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# --- crawl_discover web (see README.md for why each was chosen) ---
CRAWL_HOSTS = 12
CRAWL_LARGEST, CRAWL_SMALLEST = 400, 40  # pages of the largest/smallest host
CRAWL_OUT_DEGREE = 8
CROSS_SHARE = 0.15  # share of filler links that go to another host
ORPHAN_SHARE = 0.1  # share of each host's pages never linked to
CRAWL_404 = CRAWL_500 = 0.02  # error-page shares (at least one each)
IMAGES_PER_HOST = 6
IMAGE_SHARE = 0.7  # share of good pages that embed an image

# --- frontier_standing host set ---
STANDING_HOSTS = 24
STANDING_LARGEST, STANDING_SMALLEST = 6000, 900
STANDING_OUT_DEGREE = 4
STANDING_404 = STANDING_500 = 0.01

# --- curate inputs ---
N_DOCS = 2000
WORDS_PER_DOC = 60
SHINGLE_K = 5  # dedupe_near's default word-shingle length
VOCAB = 20000
DOC_CLUSTERS = 200
N_IMAGES = 1500
IMAGE_CLUSTERS = 150
N_VECTORS = 10000
DIM = 32
N_BLOBS = 64
N_QUERIES = 200


def png_bytes(pixels: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 pixels as an 8-bit RGB PNG (filter 0)."""
    h, w = pixels.shape[:2]

    def chunk(tag: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def skewed_sizes(n_hosts: int, largest: int, smallest: int) -> list[int]:
    """Zipf-like host sizes: host i gets ``largest / (i + 1)`` pages,
    floored at ``smallest``."""
    return [max(smallest, largest // (i + 1)) for i in range(n_hosts)]


# ---------------------------------------------------------------------------
# crawl_discover: a web to crawl from one seed per host
# ---------------------------------------------------------------------------


@dataclass
class CrawlWeb:
    corpus: pd.DataFrame  # CORPUS_SCHEMA columns
    pages: pd.DataFrame  # url, host, status
    links: dict[str, list[str]]  # page url -> out-links (pages only)
    page_image: dict[str, str]  # page url -> embedded image url
    images: pd.DataFrame  # url, w, h
    seeds: list[str]


def crawl_web(seed: int) -> CrawlWeb:
    """Generate the crawl web.

    Each host ``hostN.bench`` has a skewed number of pages.  Page 0 is
    the seed.  The host's good pages hang off an 8-ary tree from the
    seed (page p links ``8p+1 .. 8p+8``); every page fills the rest of
    its ``CRAWL_OUT_DEGREE`` links with random good pages of its own
    host or, with probability ``CROSS_SHARE``, of another host.  Error
    pages (``CRAWL_404`` and ``CRAWL_500`` of the host's pages, at least
    one of each) are linked from the seed only, so their three retries
    overlap the crawl's deeper levels.  The last ``ORPHAN_SHARE`` of the
    pages link only to each other and are never linked from the rest,
    so a correct crawl leaves them unfetched.  A good page embeds an
    image from its host's pool with probability ``IMAGE_SHARE``.
    """
    rng = np.random.default_rng([seed, 1])
    n_hosts = CRAWL_HOSTS
    sizes = skewed_sizes(n_hosts, CRAWL_LARGEST, CRAWL_SMALLEST)
    n_404 = [max(1, round(CRAWL_404 * n)) for n in sizes]
    n_500 = [max(1, round(CRAWL_500 * n)) for n in sizes]
    reach = [int(round(n * (1 - ORPHAN_SHARE))) for n in sizes]
    good = [r - a - b for r, a, b in zip(reach, n_404, n_500)]

    def purl(h: int, j: int) -> str:
        return f"http://host{h}.bench/p/{j}"

    def iurl(h: int, k: int) -> str:
        return f"http://host{h}.bench/img/{k}.png"

    links: dict[str, list[str]] = {}
    page_image: dict[str, str] = {}
    rows = []
    for h, n in enumerate(sizes):
        for j in range(n):
            u = purl(h, j)
            if j >= reach[h]:  # orphan
                st, lo, hi, kids = 200, reach[h], n, []
            elif j >= good[h]:  # error page: linked from the seed only
                st = 404 if j < good[h] + n_404[h] else 500
                lo, hi, kids = 0, good[h], []
            else:
                st, lo, hi = 200, 0, good[h]
                kids = [c for c in range(8 * j + 1, 8 * j + 9) if c < good[h]]
            out = [purl(h, c) for c in kids]
            if j == 0:
                out += [purl(h, c) for c in range(good[h], reach[h])]
            while len(out) < CRAWL_OUT_DEGREE:
                if lo == 0 and rng.random() < CROSS_SHARE:
                    oh = int(rng.integers(n_hosts))
                    out.append(purl(oh, int(rng.integers(good[oh]))))
                else:
                    out.append(purl(h, int(rng.integers(lo, hi))))
            links[u] = out
            img = None
            if st == 200 and rng.random() < IMAGE_SHARE:
                img = iurl(h, int(rng.integers(IMAGES_PER_HOST)))
                page_image[u] = img
            rows.append((u, f"host{h}.bench", st, out, img))

    words = np.array([f"w{i}" for i in range(512)])
    corpus_rows = []
    for u, host, st, out, img in rows:
        if st != 200:
            body = f"<html><body>error {st}</body></html>"
        else:
            text = " ".join(rng.choice(words, size=24))
            anchors = "".join(f'<a href="{v}">l</a>' for v in out)
            pic = (
                f'<img src="{img}"/><p class="caption">cap {img}</p>'
                if img else ""
            )
            body = f"<html><body><p>{text}</p>{anchors}{pic}</body></html>"
        corpus_rows.append(
            (u, host, st, "text/html", body.encode(), out, None, 0, None)
        )
    image_rows = []
    for h in range(n_hosts):
        for k in range(IMAGES_PER_HOST):
            w = 8 + int(rng.integers(25))
            hh = 8 + int(rng.integers(25))
            px = rng.integers(0, 256, size=(hh, w, 3), dtype=np.uint8)
            u = iurl(h, k)
            image_rows.append((u, w, hh))
            corpus_rows.append(
                (u, f"host{h}.bench", 200, "image/png", png_bytes(px), [],
                 None, 0, None)
            )
    corpus = pd.DataFrame(
        corpus_rows,
        columns=["url", "host", "status", "content_type", "body", "links",
                 "caption", "crawl_delay_ms", "set_cookie"],
    )
    pages = pd.DataFrame(
        [(u, host, st) for u, host, st, _o, _i in rows],
        columns=["url", "host", "status"],
    )
    return CrawlWeb(
        corpus=corpus,
        pages=pages,
        links=links,
        page_image=page_image,
        images=pd.DataFrame(image_rows, columns=["url", "w", "h"]),
        seeds=[purl(h, 0) for h in range(n_hosts)],
    )


# ---------------------------------------------------------------------------
# frontier_standing: every page of a skewed host set is a seed
# ---------------------------------------------------------------------------


@dataclass
class StandingHosts:
    corpus: pd.DataFrame  # CORPUS_SCHEMA columns
    seeds: pd.DataFrame  # url, host, priority, depth, status


def standing_hosts(seed: int) -> StandingHosts:
    """Seed table plus corpus for the standing-frontier workload.

    Every page links ``STANDING_OUT_DEGREE`` random pages of the set,
    so after
    the seeding every link the spider extracts is already seen.
    Priorities are random in 0..3 and depths in 0..2, so the schedule
    order ``(priority, depth, url_key)`` is not the URL order.
    """
    rng = np.random.default_rng([seed, 2])
    sizes = skewed_sizes(STANDING_HOSTS, STANDING_LARGEST, STANDING_SMALLEST)
    hosts = np.repeat(np.arange(STANDING_HOSTS), sizes)
    idx = np.concatenate([np.arange(n) for n in sizes])
    urls = np.array(
        [f"http://site{h}.bench/doc/{j}" for h, j in zip(hosts, idx)]
    )
    n = len(urls)
    u = rng.random(n)
    status = np.where(
        u < STANDING_404, 404,
        np.where(u < STANDING_404 + STANDING_500, 500, 200),
    )
    targets = rng.integers(0, n, size=(n, STANDING_OUT_DEGREE))
    bodies = []
    link_lists = []
    for i in range(n):
        out = [urls[t] for t in targets[i]]
        link_lists.append(out)
        anchors = "".join(f'<a href="{v}">l</a>' for v in out)
        bodies.append(f"<html><body>{anchors}</body></html>".encode())
    host_names = np.array([f"site{h}.bench" for h in hosts])
    corpus = pd.DataFrame(
        {
            "url": urls,
            "host": host_names,
            "status": status.astype("int32"),
            "content_type": "text/html",
            "body": bodies,
            "links": link_lists,
            "caption": None,
            "crawl_delay_ms": np.zeros(n, dtype="int32"),
            "set_cookie": None,
        }
    )
    seeds = pd.DataFrame(
        {
            "url": urls,
            "host": host_names,
            "priority": rng.integers(0, 4, size=n).astype("int32"),
            "depth": rng.integers(0, 3, size=n).astype("int32"),
            "status": status.astype("int32"),
        }
    )
    return StandingHosts(
        corpus=corpus,
        seeds=seeds,
    )


# ---------------------------------------------------------------------------
# curate: documents, images and vectors with planted duplicates
# ---------------------------------------------------------------------------


@dataclass
class CurateInputs:
    docs: pd.DataFrame  # doc_id, text
    doc_cluster: dict[str, int]  # doc_id -> planted cluster id
    images: pd.DataFrame  # image_id, bytes, w, h, fmt, caption, phash
    vectors: pd.DataFrame  # vec_id, embedding
    queries: pd.DataFrame  # qid, embedding


def _flip_bits(x: int, bits: list[int]) -> int:
    for b in bits:
        x ^= 1 << b
    return x


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _near_copy(base: list[str], d: int, front: bool, token: str) -> list[str]:
    """``base`` with words replaced by ``token`` so that exactly ``d``
    (1 .. SHINGLE_K + 1) of its SHINGLE_K-word shingles change: one word
    at position ``d - 1`` changes ``d`` shingles, and for ``d =
    SHINGLE_K + 1`` the words at 0 and SHINGLE_K change ``d`` between
    them.  ``front=False`` mirrors the positions from the end."""
    at = [d - 1] if d <= SHINGLE_K else [0, SHINGLE_K]
    w = list(base)
    for i in at:
        w[i if front else len(w) - 1 - i] = token
    return w


def curate_inputs(seed: int) -> CurateInputs:
    """Generate the curation inputs.

    Documents: ``N_DOCS`` rows, ``DOC_CLUSTERS`` of them bases of a
    planted cluster holding one to three exact copies (case and spacing
    changed, which the normalized fingerprint ignores) and one to three
    near copies.  A near copy replaces one or two words of the base, at
    either end, with a token no other document uses, so that ``d`` of
    its 56 five-word shingles change, ``d`` uniform in 1..6: its
    Jaccard to the base is ``(56 - d) / (56 + d)``, one of 0.965, 0.931,
    0.898, 0.867, 0.836 and 0.806, all above ``dedupe_near``'s 0.8.
    Every other document is random words from a ``VOCAB``-word
    vocabulary, so no pair outside a cluster comes near the threshold.

    Images: ``IMAGE_CLUSTERS`` planted clusters, each a base with one
    byte-identical copy and a chain of two near copies whose phash is
    two bits from the previous one (four bits from the base, so only
    the chain connects the ends); the rest are unrelated.  Pixels are
    random, so byte-identical means copied.

    Vectors: ``N_VECTORS`` points around ``N_BLOBS`` Gaussian centres in
    ``DIM`` dimensions; queries are drawn the same way.
    """
    rng = np.random.default_rng([seed, 3])
    vocab_words = np.array(
        ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=6))
         + str(i) for i in range(VOCAB)]
    )

    # --- documents ---
    texts: list[str] = []
    cluster_of: list[int] = []
    uniq = 0
    for c in range(DOC_CLUSTERS):
        base = list(rng.choice(vocab_words, size=WORDS_PER_DOC))
        texts.append(" ".join(base))
        cluster_of.append(c)
        for _ in range(int(rng.integers(1, 4))):
            t = " ".join(base).upper() if rng.random() < 0.5 else "  ".join(base)
            texts.append(t)
            cluster_of.append(c)
        for _ in range(int(rng.integers(1, 4))):
            d = int(rng.integers(1, SHINGLE_K + 2))
            w = _near_copy(base, d, rng.random() < 0.5, f"zz{uniq}")
            uniq += 1
            texts.append(" ".join(w))
            cluster_of.append(c)
    next_cluster = DOC_CLUSTERS
    while len(texts) < N_DOCS:
        texts.append(" ".join(rng.choice(vocab_words, size=WORDS_PER_DOC)))
        cluster_of.append(next_cluster)
        next_cluster += 1
    order = rng.permutation(len(texts))
    doc_ids = [f"d{i:06d}" for i in range(len(texts))]
    docs = pd.DataFrame(
        {"doc_id": doc_ids, "text": [texts[k] for k in order]}
    )
    doc_cluster = {doc_ids[i]: cluster_of[k] for i, k in enumerate(order)}

    # --- images ---
    img_rows = []  # (bytes, w, h, phash)

    def new_image() -> tuple[bytes, int, int, int]:
        w, h = 8 + int(rng.integers(9)), 8 + int(rng.integers(9))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        return png_bytes(px), w, h, int(rng.integers(0, 1 << 63)) << 1 | int(
            rng.integers(2)
        )

    img_cluster: list[int] = []
    for c in range(IMAGE_CLUSTERS):
        b, w, h, ph = new_image()
        img_rows.append((b, w, h, ph))
        img_rows.append((b, w, h, ph))
        img_cluster += [c, c]
        cur = ph
        for _ in range(2):
            cur = _flip_bits(cur, [int(x) for x in rng.choice(64, 2, replace=False)])
            nb, nw, nh, _ = new_image()
            img_rows.append((nb, nw, nh, cur))
            img_cluster.append(c)
    nc = IMAGE_CLUSTERS
    while len(img_rows) < N_IMAGES:
        img_rows.append(new_image())
        img_cluster.append(nc)
        nc += 1
    iorder = rng.permutation(len(img_rows))
    images = pd.DataFrame(
        {
            "image_id": [f"i{i:06d}" for i in range(len(img_rows))],
            "bytes": [img_rows[k][0] for k in iorder],
            "w": np.array([img_rows[k][1] for k in iorder], dtype="int32"),
            "h": np.array([img_rows[k][2] for k in iorder], dtype="int32"),
            "fmt": "png",
            "caption": [f"image {k}" for k in iorder],
            "phash": np.array(
                [_signed64(img_rows[k][3]) for k in iorder], dtype="int64"
            ),
        }
    )

    # --- vectors ---
    centres = rng.normal(size=(N_BLOBS, DIM))
    pts = centres[rng.integers(N_BLOBS, size=N_VECTORS)] + 0.35 * rng.normal(
        size=(N_VECTORS, DIM)
    )
    qs = centres[rng.integers(N_BLOBS, size=N_QUERIES)] + 0.35 * rng.normal(
        size=(N_QUERIES, DIM)
    )
    vectors = pd.DataFrame(
        {"vec_id": np.arange(N_VECTORS, dtype="int64"),
         "embedding": [row.tolist() for row in pts]}
    )
    queries = pd.DataFrame(
        {"qid": np.arange(N_QUERIES, dtype="int64"),
         "embedding": [row.tolist() for row in qs]}
    )
    return CurateInputs(
        docs=docs,
        doc_cluster=doc_cluster,
        images=images,
        vectors=vectors,
        queries=queries,
    )
