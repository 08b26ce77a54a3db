"""Seeded synthetic crawl: the benchmark's own input generator.

The rule is a frozen copy of the Zipf crawl used by the library's scaling
harness, kept here so that a change to the library cannot change the
workload.  Page ``i`` (0 <= i < n) links to ``1 .. 2*avg_out`` targets drawn
Zipf(theta) over ``[0, n)`` by inverse CDF (``n * u^(1/(1-theta))``), so low
ids become heavy in-degree hubs.  Targets equal to the page itself are
dropped and repeated targets are kept once.

On top of the crawl come a few disjoint *islands*: small page groups that
link only among themselves (a ring with chords, so they hold triangles) plus
one dangling member each.  They give connected components more than one
component and give PageRank dangling mass.

Hrefs are written in five equivalent forms (absolute, scheme-relative,
root-relative, relative, absolute with a fragment), all of which resolve to the
target's url, so link parsing exercises every resolution branch while the
parsed edge set still equals the generated one.

Outputs, written once per (seed, size) into a directory:

- ``pages/part-*.parquet``: (url, warc_ts, html, text, lang)
- ``edges/part-*.parquet``: (src, dst) page ids; id == rank of the url in
  sorted order, because urls are zero-padded
- ``fingerprint.json``: row count, edge count and order-independent hashes

Only numpy and pyarrow are used.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

URL_HOST = "crawl.example"
URL_PREFIX = f"https://{URL_HOST}/p"
URL_PAD = 8
N_FILES = 8
ISLAND_SIZES = (4, 5, 7, 11, 16, 24)
EPOCH_2024 = 1704067200


def splitmix64(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return (splitmix64(x) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def crawl_edges(
    n: int, avg_out: int, theta: float, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of the Zipf crawl over pages ``[0, n)``, sorted by src
    then dst, no self-links, no repeated pairs."""
    if not 0.0 < theta < 1.0:
        raise ValueError("theta must be in (0, 1)")
    inv = 1.0 / (1.0 - theta)
    s64 = np.uint64(seed)
    ids = np.arange(n, dtype=np.int64)
    u64 = ids.astype(np.uint64)
    with np.errstate(over="ignore"):
        k = 1 + (splitmix64(u64 * np.uint64(3) + s64) % np.uint64(2 * avg_out)).astype(
            np.int64
        )
        j = np.arange(int(k.max()), dtype=np.uint64)[None, :]
        h = u64[:, None] * np.uint64(0x100000001B3) + j * np.uint64(0x1000193) + s64
    tgt = np.minimum((n * _u01(h.ravel()).reshape(h.shape) ** inv).astype(np.int64), n - 1)
    valid = (j < k[:, None].astype(np.uint64)) & (tgt != ids[:, None])
    tgt = np.where(valid, tgt, -1)
    tgt.sort(axis=1)
    valid = tgt >= 0
    valid[:, 1:] &= tgt[:, 1:] != tgt[:, :-1]
    src = np.broadcast_to(ids[:, None], tgt.shape)[valid]
    return src.astype(np.int64), tgt[valid].astype(np.int64)


def island_edges(first_id: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Edges of the islands placed at ids ``first_id, ...``; returns
    (src, dst, number of island pages)."""
    src, dst, base = [], [], first_id
    for size in ISLAND_SIZES:
        ring = size - 1  # the last member is the dangling one
        for i in range(ring):
            for step in (1, 2):
                src.append(base + i)
                dst.append(base + (i + step) % ring)
        src.append(base)
        dst.append(base + ring)
        base += size
    return np.array(src, np.int64), np.array(dst, np.int64), base - first_id


def generate_edges(
    n_crawl: int, avg_out: int, theta: float, seed: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Crawl plus islands: (src, dst, total pages), sorted by (src, dst)."""
    cs, cd = crawl_edges(n_crawl, avg_out, theta, seed)
    isrc, idst, n_isl = island_edges(n_crawl)
    src = np.concatenate([cs, isrc])
    dst = np.concatenate([cd, idst])
    order = np.lexsort((dst, src))
    return src[order], dst[order], n_crawl + n_isl


def edge_hash(src: np.ndarray, dst: np.ndarray) -> int:
    """Order-independent hash of an edge multiset (wrapping uint64 sum)."""
    with np.errstate(over="ignore"):
        h = splitmix64(
            src.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ dst.astype(np.uint64)
        )
        return int(h.sum(dtype=np.uint64))


def page_urls(ids: np.ndarray) -> list[str]:
    return [f"{URL_PREFIX}{i:0{URL_PAD}d}" for i in ids.tolist()]


# five href spellings of the same target; each resolves to URL_PREFIX + id
_HREF_FORMS = (
    URL_PREFIX + "{:0%dd}" % URL_PAD,
    f"//{URL_HOST}/p" + "{:0%dd}" % URL_PAD,
    "/p{:0%dd}" % URL_PAD,
    "p{:0%dd}" % URL_PAD,
    URL_PREFIX + "{:0%dd}#top" % URL_PAD,
)


def page_html(n_pages: int, src: np.ndarray, dst: np.ndarray) -> list[str]:
    """Html per page, anchors in (src, dst) order, each href in a form
    picked by a hash of the edge."""
    with np.errstate(over="ignore"):
        form = splitmix64(src.astype(np.uint64) * np.uint64(31) + dst.astype(np.uint64))
    form = (form % np.uint64(len(_HREF_FORMS))).astype(np.int64)
    anchors = [
        '<a class="l" href="' + _HREF_FORMS[f].format(d) + '">link</a> '
        for f, d in zip(form.tolist(), dst.tolist())
    ]
    cuts = np.searchsorted(src, np.arange(n_pages + 1)).tolist()
    return [
        f"<html><head><title>Page {i:0{URL_PAD}d}</title>"
        "<script>var x = 1;</script></head>"
        f"<body><h1>Page {i:0{URL_PAD}d}</h1><p>Crawled page &amp; links.</p>"
        + "".join(anchors[cuts[i]:cuts[i + 1]])
        + "</body></html>"
        for i in range(n_pages)
    ]


def write_inputs(out_dir: str, n_crawl: int, avg_out: int, theta: float, seed: int) -> dict:
    """Generate and write pages, edges and the fingerprint; return the
    fingerprint."""
    src, dst, n_pages = generate_edges(n_crawl, avg_out, theta, seed)
    html = page_html(n_pages, src, dst)
    ids = np.arange(n_pages, dtype=np.int64)
    urls = page_urls(ids)
    ts = EPOCH_2024 + (ids * 2654435761) % 31536000
    os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "edges"), exist_ok=True)
    page_cuts = np.linspace(0, n_pages, N_FILES + 1).astype(np.int64)
    edge_cuts = np.searchsorted(src, page_cuts)
    for f in range(N_FILES):
        a, b = page_cuts[f], page_cuts[f + 1]
        pq.write_table(
            pa.table({
                "url": pa.array(urls[a:b], pa.string()),
                "warc_ts": pa.array(ts[a:b] * 1_000_000, pa.timestamp("us", tz="UTC")),
                "html": pa.array([h.encode() for h in html[a:b]], pa.binary()),
                "text": pa.array([f"Page {u[-URL_PAD:]}" for u in urls[a:b]], pa.string()),
                "lang": pa.array(["en"] * int(b - a), pa.string()),
            }),
            os.path.join(out_dir, "pages", f"part-{f:05d}.parquet"),
        )
        ea, eb = edge_cuts[f], edge_cuts[f + 1]
        pq.write_table(
            pa.table({"src": src[ea:eb], "dst": dst[ea:eb]}),
            os.path.join(out_dir, "edges", f"part-{f:05d}.parquet"),
        )
    fp = fingerprint(out_dir)
    with open(os.path.join(out_dir, "fingerprint.json"), "w") as f:
        json.dump(fp, f)
    return fp


def fingerprint(in_dir: str) -> dict:
    """Recompute the fingerprint from the written files."""
    pages = pq.read_table(os.path.join(in_dir, "pages"), columns=["url", "html"])
    edges = pq.read_table(os.path.join(in_dir, "edges"))
    crc = 0
    for u, h in zip(pages.column("url").to_pylist(), pages.column("html").to_pylist()):
        crc = (crc + zlib.crc32(h, zlib.crc32(u.encode()))) % (1 << 64)
    src = edges.column("src").to_numpy()
    dst = edges.column("dst").to_numpy()
    return {
        "pages": pages.num_rows,
        "edges": edges.num_rows,
        "pages_hash": crc,
        "edges_hash": edge_hash(src, dst),
    }
