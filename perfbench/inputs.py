"""Seeded input generators. The engine only ever sees the parquet files
written here; the same seed always writes the same bytes.

* rMAT edges come from the engine's own ``sources.generators.rmat`` (a Spark
  job), staged once to parquet.
* The crawl corpus is host-clustered: hosts are contiguous page-index ranges
  with power-law sizes, links stay mostly inside their host, a minority of
  hosts carry the cross-host links that join them into the largest
  component, and some links point at pages that were never crawled (dangling
  nodes for PageRank). Page bodies are ``sources.pages.render_html`` (which
  already carries the script/style/comment hazards) padded to a few KB with
  more hazards that must yield no edge. Urls are ``sources.pages.page_url``;
  the link structure is drawn first, and urls and bodies are rendered from
  it, so callers can time the engine's ``sources`` calls on their own.
* Delta batches for ``crawl_delta`` are link inserts among crawled pages
  (plus a few brand-new pages) and per-host link purges (deletes).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from em_connected_components_spark.sources import generators, pages as page_src

from . import oracle, xxh

LANGS = ("en", "de", "fr", "es")  # page i is in LANGS[i % 4], as render_html writes it
_FILLER_WORDS = (
    "crawl index anchor graph archive snapshot mirror feed sitemap robots "
    "canonical redirect fragment charset entity markup render parse"
).split()


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    table = pq.read_table(path)
    return (table.column("src").to_numpy().astype(np.int64),
            table.column("dst").to_numpy().astype(np.int64))


def stage_rmat(spark, path: str, scale: int, edge_factor: int, seed: int) -> None:
    generators.rmat(spark, scale=scale, edge_factor=edge_factor, seed=seed) \
        .write.mode("overwrite").parquet(path)


@dataclass
class Crawl:
    """A crawl corpus as page-index link arrays plus the url -> id table."""

    pages: int  # crawled pages are indices [0, pages)
    host_start: np.ndarray  # first page index of each host
    host_size: np.ndarray
    host_of: np.ndarray  # host of each crawled page
    src: np.ndarray  # page index of each link, in page order
    dst: np.ndarray  # target page index (>= pages: never crawled)
    first_new: int  # indices [first_new, n_ids) are pages no link reaches yet
    n_ids: int  # page indices in use
    ids: np.ndarray | None = None  # xxhash64(page_url(i)); set by ``hash_urls``

    def hash_urls(self, urls: list[str]) -> None:
        self.ids = xxh.hash_strings(urls)

    def link_ids(self) -> tuple[np.ndarray, np.ndarray]:
        return self.ids[self.src], self.ids[self.dst]


def page_urls(c: Crawl) -> list[str]:
    return [page_src.page_url(i) for i in range(c.n_ids)]


def _host_sizes(rng: np.random.Generator, pages: int) -> np.ndarray:
    sizes = []
    total = 0
    while total < pages:
        s = int(min(4 + rng.pareto(HOST_PARETO) * 6, pages // 20))
        s = min(s, pages - total)
        sizes.append(s)
        total += s
    return np.array(sizes, dtype=np.int64)


# Corpus shape. Only the link count per page is measured: 1.7M links
# extracted from 200k pages (8.5 per page) in a probe of the engine's
# extraction. Every other value is an assumption, listed as such in
# perfbench/README.md beside the input property it sets.
NO_LINKS = 0.05  # share of pages with no out-link
MEAN_LINKS = 8.5 / (1 - NO_LINKS)  # Poisson mean over the pages that link
FRONT = 0.33  # share of intra-host links that point at the host's front page
HOST_PARETO = 1.2  # shape of the host-size distribution
LINKED_HOSTS = 0.3  # share of hosts that link across hosts at all
CROSS, UNCRAWLED, SELF, DUP = 0.05, 0.04, 0.01, 0.05  # shares of links


def crawl_graph(seed: int, pages: int, new_pages: int = 0) -> Crawl:
    """Link structure of a host-clustered crawl (see module docstring).
    ``new_pages`` reserves page indices past the uncrawled ones for pages a
    later delta introduces."""
    rng = np.random.default_rng([seed, 1])
    size = _host_sizes(rng, pages)
    start = np.concatenate([[0], np.cumsum(size)[:-1]])
    host_of = np.repeat(np.arange(len(size)), size)
    linked = rng.random(len(size)) < LINKED_HOSTS
    linked[np.argmax(size)] = True

    deg = rng.poisson(MEAN_LINKS, pages)
    deg[rng.random(pages) < NO_LINKS] = 0
    src = np.repeat(np.arange(pages), deg)
    h = host_of[src]
    # intra-host: a share of the links point at the host's front page
    front = rng.random(len(src)) < FRONT
    dst = np.where(front, start[h], start[h] + rng.integers(0, size[h]))
    kind = rng.random(len(src))
    cross = (kind < CROSS) & linked[h]
    linked_pages = np.flatnonzero(linked[host_of])
    dst[cross] = linked_pages[rng.integers(0, len(linked_pages), cross.sum())]
    uncrawled = max(1, int(pages * UNCRAWLED))
    ext = (kind >= CROSS) & (kind < CROSS + UNCRAWLED)
    # each host links to its own slice of the uncrawled pages, so dangling
    # targets do not join otherwise separate hosts
    dst[ext] = pages + (start[h[ext]] + rng.integers(0, size[h[ext]])) * uncrawled // pages
    loop = (kind >= CROSS + UNCRAWLED) & (kind < CROSS + UNCRAWLED + SELF)
    dst[loop] = src[loop]
    # duplicates: repeat the previous link of the same page
    dup = rng.random(len(src)) < DUP
    dup[0] = False
    dup &= src == np.roll(src, 1)
    dst[dup] = np.roll(dst, 1)[dup]

    return Crawl(pages, start, size, host_of, src, dst, pages + uncrawled,
                 pages + uncrawled + new_pages)


def crawl_properties(c: Crawl) -> dict[str, float]:
    """Input properties a later gain may depend on."""
    s, d = c.link_ids()
    cs, cd = oracle.canonical_edges(s, d)
    part = oracle.partition(cs, cd)
    crawled = c.dst < c.pages
    nonloop = s != d
    return {
        "largest_share": part.largest / max(part.nodes, 1),
        "cross_host_share": float(np.mean(
            crawled & (c.host_of[c.src] != c.host_of[np.minimum(c.dst, c.pages - 1)]))),
        "duplicate_share": 1.0 - len(cs) / max(int(nonloop.sum()), 1),
        "self_loop_share": float(np.mean(~nonloop)),
    }


def _pad(rng: np.random.Generator, page: int) -> bytes:
    words = " ".join(_FILLER_WORDS[k] for k in rng.integers(0, len(_FILLER_WORDS), 24))
    block = (
        f"<p>{words}</p>"
        f"<script type='text/javascript'>document.write('<a href=\"/ads/{page}\">');</script>"
        f"<!-- <a href=\"https://stale.example/{page}\">stale</a> -->"
        f"<a href=\"mailto:ops@example.org\">mail</a><a href='#top'>top</a>"
    )
    return (block * int(rng.integers(6, 16))).encode("utf-8")


def write_pages(path: str, c: Crawl, urls: list[str], seed: int) -> None:
    """The crawled pages as a pages table (url, warc_ts, html, text, lang);
    ``text`` stays null, nothing downstream reads it."""
    rng = np.random.default_rng([seed, 2])
    cut = np.searchsorted(c.src, np.arange(c.pages + 1))
    html = []
    for i in range(c.pages):
        body = page_src.render_html(i, c.dst[cut[i]:cut[i + 1]].tolist())
        html.append(body[:-14] + _pad(rng, i) + body[-14:])  # before </body></html>
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table({
        "url": pa.array(urls[:c.pages], pa.string()),
        "warc_ts": pa.array([base + dt.timedelta(seconds=i) for i in range(c.pages)],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.nulls(c.pages, pa.string()),
        "lang": pa.array([LANGS[i % 4] for i in range(c.pages)], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=2048)


@dataclass
class DeltaPlan:
    """A fixed sequence of insert/delete batches over canonical id edges."""

    base: tuple[np.ndarray, np.ndarray]
    inserts: list[tuple[np.ndarray, np.ndarray]]
    deletes: list[tuple[np.ndarray, np.ndarray]]


def delta_plan(c: Crawl, seed: int, batches: int, insert_edges: int,
               delete_edges: int) -> DeltaPlan:
    """Inserts are ``insert_edges`` new links (never an existing or earlier
    edge): mostly inside one host, 1% across hosts, 2% to pages not yet in
    the graph. Each delete purges ``delete_edges`` links of one host, chosen
    uniformly among hosts that still have that many, never a link purged
    before, so deletes only ever remove base edges. Even batches purge a host
    of the base graph's largest component and odd batches one outside it:
    re-solving the largest component dominates a delete's cost, so a random
    mix would make a run's few deletes differ by seed. Fixed batch sizes
    keep every fold's work alike."""
    rng = np.random.default_rng([seed, 3])
    s, d = c.link_ids()
    base = oracle.canonical_edges(s, d)
    seen = set(xxh.hash_pair(*base).tolist())
    link_key = xxh.hash_pair(np.minimum(s, d), np.maximum(s, d))
    link_host = c.host_of[c.src]
    nodes, comp = oracle.min_labels(*base)
    comps, sizes = np.unique(comp, return_counts=True)
    giant_hosts = np.isin(c.ids[c.host_start], nodes[comp == comps[sizes.argmax()]])
    gone: set[int] = set()
    inserts, deletes = [], []
    for k in range(batches):
        draw = 2 * insert_edges
        h = rng.choice(len(c.host_size), size=draw, p=c.host_size / c.pages)
        a = c.host_start[h] + rng.integers(0, c.host_size[h])
        b = c.host_start[h] + rng.integers(0, c.host_size[h])
        kind = rng.random(draw)
        b = np.where(kind < 0.01, rng.integers(0, c.pages, draw), b)
        new = kind > 0.98
        b[new] = c.first_new + rng.integers(0, c.n_ids - c.first_new, new.sum())
        u, v = np.minimum(c.ids[a], c.ids[b]), np.maximum(c.ids[a], c.ids[b])
        keys = xxh.hash_pair(u, v)
        keep = []
        for i in np.flatnonzero(u != v).tolist():
            if keys[i] not in seen:
                seen.add(int(keys[i]))
                keep.append(i)
                if len(keep) == insert_edges:
                    break
        inserts.append((u[keep], v[keep]))

        hosts = np.flatnonzero(giant_hosts == (k % 2 == 0))
        while True:
            host = int(rng.choice(hosts))
            rows, keys = [], set()
            for i in np.flatnonzero((link_host == host) & (s != d)).tolist():
                key = int(link_key[i])
                if key not in gone and key not in keys:
                    keys.add(key)
                    rows.append(i)
            if len(rows) >= delete_edges:
                break
        rows = rng.permutation(np.array(rows))[:delete_edges]
        gone.update(int(k) for k in link_key[rows])
        deletes.append((np.minimum(s, d)[rows], np.maximum(s, d)[rows]))
    return DeltaPlan(base, inserts, deletes)
