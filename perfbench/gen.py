"""Seeded input generators for the benchmark.

Everything here is plain NumPy/pyarrow: inputs are written as parquet
before the engine sees them, so generation never runs inside the
engine and the same seed always yields byte-identical inputs.

Link graph model (one crawl-like web graph):
  * pages are grouped into hosts; most links stay inside their host and
    point at that host's pages by a Zipf(1.6) law over page rank within
    the host (the host's front page is its in-hub) — the in-degree law
    of ``sources.pages.synth_pages``, applied per host;
  * the remaining links go across hosts by the same Zipf(1.6) law over
    a global popularity order, plus one site-wide portal link carried
    by most pages: one global in-hub, above the engine's CSR chunk cap
    once the corpus has ~90,000 pages;
  * one sitemap page links to a large share of the corpus: one out-hub
    (PageRank's CSR is keyed by src), above the cap at that size too;
  * ~16 outlink draws per page, ~5% dangling pages; repeated draws of
    the same target become the link multiplicity ``weight``, as
    ``extract_edges`` emits it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_A = 1.6
HOST_SIZE = 48
CSR_CAP = 65_536  # the engine's default CSR chunk cap (functions/graph.py)


def link_graph(
    seed: int,
    n_pages: int,
    host_size: int = HOST_SIZE,
    avg_out: float = 16.0,
    min_out: int = 8,
    dangling: float = 0.05,
    cross_host: float = 0.15,
    portal_share: float = 0.8,
    sitemap_share: float = 0.7,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Directed weighted link graph as (src, dst, weight) arrays.

    Vertex ids are 0..n_pages-1; every (src, dst) pair is distinct,
    src != dst, weight = multiplicity (float64 >= 1). Each linking page
    draws ``min_out`` + Poisson outlinks and sends a fixed share of
    them across hosts: a page or host that keeps nearly all of its
    links would otherwise set PageRank's convergence rate on its own,
    and the superstep count would swing with the seed."""
    rng = np.random.default_rng(seed)
    n = n_pages
    host = np.arange(n) // host_size
    base = host * host_size
    size = np.minimum(host_size, n - base)

    outdeg = rng.poisson(avg_out - min_out, n) + min_out
    outdeg[rng.random(n) < dangling] = 0
    src = np.repeat(np.arange(n), outdeg)
    draw = np.arange(src.size) - np.repeat(np.cumsum(outdeg) - outdeg, outdeg)
    cross = draw < np.ceil(cross_host * outdeg[src])
    z = rng.zipf(ZIPF_A, src.size) - 1
    dst = np.where(cross, rng.permutation(n)[z % n], base[src] + z % size[src])

    portal, sitemap = 0, 1
    linkers = np.flatnonzero((outdeg > 0) & (rng.random(n) < portal_share))
    mapped = np.flatnonzero(rng.random(n) < sitemap_share)
    src = np.concatenate([src, linkers, np.full(mapped.size, sitemap)])
    dst = np.concatenate([dst, np.full(linkers.size, portal), mapped])

    keep = src != dst
    pair = src[keep].astype(np.int64) * n + dst[keep]
    uniq, mult = np.unique(pair, return_counts=True)
    return uniq // n, uniq % n, mult.astype(np.float64)


def write_edges(path: str, src, dst, weight) -> None:
    """Edge table (src long, dst long, weight double) as parquet files."""
    write_table(path, pa.table({
        "src": pa.array(src, pa.int64()),
        "dst": pa.array(dst, pa.int64()),
        "weight": pa.array(weight, pa.float64()),
    }))


def components_of(n: int, src, dst) -> np.ndarray:
    """Minimum vertex id of each vertex's weakly connected component:
    min-label propagation with pointer jumping, all in NumPy."""
    lbl = np.arange(n)
    while True:
        nxt = lbl.copy()
        np.minimum.at(nxt, src, lbl[dst])
        np.minimum.at(nxt, dst, lbl[src])
        nxt = nxt[nxt]
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lbl):
            return lbl
        lbl = nxt


def graph_properties(n_pages: int, src, dst, weight) -> dict:
    """The input properties recorded for every generated graph."""
    verts = np.union1d(src, dst)
    n = int(verts.size)
    indeg = np.bincount(dst, minlength=n_pages)
    outdeg = np.bincount(src, minlength=n_pages)
    comp = components_of(n_pages, src, dst)
    return {
        "n": n,
        "m": int(src.size),
        "max_in_degree": int(indeg.max()),
        "max_out_degree": int(outdeg.max()),
        "csr_cap": CSR_CAP,
        "weight_gt1_share": round(float(np.mean(weight > 1)), 4),
        "max_weight": int(weight.max()),
        "dangling_share": round(float(np.mean(outdeg[verts] == 0)), 4),
        "intra_host_share": round(float(np.mean(src // HOST_SIZE == dst // HOST_SIZE)), 4),
        "components": int(np.unique(comp[verts]).size),
    }


def page_url(i) -> str:
    return f"http://host{i // HOST_SIZE}.example/page/{i}"


def pages_corpus(seed: int, n_pages: int, stale: float = 0.02, external: float = 2.0):
    """Crawl table (url, warc_ts, html, text, lang) embedding the
    ``link_graph`` of the same seed, plus what extraction must drop:
    off-corpus links, non-http hrefs and older captures of ~``stale`` of
    the urls whose links differ. Returns (pyarrow table, (src, dst, w))
    where (src, dst, w) is the link set the latest captures embed."""
    src, dst, w = link_graph(seed, n_pages, host_size=HOST_SIZE)
    rng = np.random.default_rng(seed + 1)
    reps = w.astype(np.int64)
    href_dst = np.repeat(dst, reps)
    href_src = np.repeat(src, reps)
    order = np.lexsort((rng.random(href_src.size), href_src))  # shuffle within page
    href_dst = href_dst[order]
    cuts = np.searchsorted(href_src[order], np.arange(n_pages + 1))
    n_ext = rng.poisson(external, n_pages)
    texts = []
    for i in range(n_pages):
        links = [f'<a href="{page_url(j)}">p{j}</a>' for j in href_dst[cuts[i]:cuts[i + 1]]]
        links += [f'<a href="https://ext{k}.example.org/x">x</a>' for k in rng.integers(0, 1000, n_ext[i])]
        texts.append(f"Page {i}. " + " ".join(links) + ' <a href="/about">about</a> end')
    old = np.flatnonzero(rng.random(n_pages) < stale)
    stale_text = [
        f'Page {i}, old capture. <a href="{page_url((i + 7) % n_pages)}">gone</a>' for i in old
    ]
    idx = np.concatenate([np.arange(n_pages), old])
    text = texts + stale_text
    ts = np.datetime64("2025-06-01T00:00:00", "us") + (idx % 86400).astype("timedelta64[s]")
    ts[n_pages:] -= np.timedelta64(30, "D")
    table = pa.table({
        "url": pa.array([page_url(i) for i in idx], pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array([f"<html><body>{t}</body></html>".encode() for t in text], pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(["en", "de", "fr", "es", "zh"])[idx % 5], pa.string()),
    })
    return table, (src, dst, w)


def write_table(path: str, table) -> None:
    """One parquet file under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
