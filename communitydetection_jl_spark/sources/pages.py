"""Web-page corpus source: the engine's input contract (input_hint).

    pages(url: string, warc_ts: timestamp, html: binary,
          text: string, lang: string)

In production this is an Iceberg table of Common-Crawl-style pages read
with ``spark.read.table(...)`` (the Iceberg runtime jar is not in this
sandbox — see ``read_pages``); here a deterministic synthetic generator
(seed=42, preferential attachment for hub skew) produces the same shape
at any scale, distributed via ``spark.range`` + a vectorized pandas UDF
so generation itself scales with executors.

Pipeline:
  pages → dedup latest capture per url (max_by warc_ts)
        → href extraction (vectorized pandas UDF over ``text``;
          byte-identical text per url is the per-row invariant)
        → url→id dictionary (xxhash64 — stable, join-free, collision
          risk ~n²/2⁶⁴, negligible below ~10¹⁸ urls; dense ids optional)
        → edges(src, dst, weight)

No per-row Python anywhere: extraction is Series→Series over Arrow
batches.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

HREF_PATTERN = r'href="(https?://[^"\s]+)"'
# re.ASCII pins Python's \s to the ASCII set Java regex uses, so the
# JVM (regexp_extract_all) and pandas-UDF extractors agree byte-for-
# byte even on hrefs containing unicode whitespace (NBSP, U+2028, ...)
_HREF_RE = re.compile(HREF_PATTERN, re.ASCII)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def synth_pages(
    spark: SparkSession,
    n_pages: int = 2000,
    n_hosts: int = 200,
    avg_outlinks: float = 8.0,
    dup_fraction: float = 0.02,
    dangling_fraction: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic Common-Crawl-style corpus.

    Outlink targets follow a Zipf-like preferential law over page ranks,
    so the derived graph has hub skew on purpose. ~dup_fraction of urls
    appear twice with different warc_ts (latest-capture dedup test);
    ~dangling_fraction of pages have zero outlinks (dangling PageRank
    test). Text for a given url is byte-identical across runs and
    across duplicate captures (the per-row invariant)."""

    # fixed generation grid: content must be byte-identical regardless of
    # the session's parallelism (the per-row invariant) — never derive
    # randomness from partition ids whose meaning depends on core count
    n_parts = 64

    def gen(batches):
        for pdf in batches:
            part_rows = []
            for pid in pdf["id"].tolist():
                lo = pid * n_pages // n_parts
                hi = (pid + 1) * n_pages // n_parts
                ids = np.arange(lo, hi)
                if len(ids) == 0:
                    continue
                hosts = ids % n_hosts
                urls = [f"http://host{h}.example/page/{i}" for h, i in zip(hosts, ids)]
                # per-page deterministic outlink count + dangling flag
                h1 = (ids * np.uint64(2654435761) + np.uint64(seed)) % np.uint64(1000)
                dangle = h1 < int(dangling_fraction * 1000)
                n_links = np.maximum(
                    0,
                    ((ids * np.uint64(40503) + np.uint64(seed * 7919)) % np.uint64(int(2 * avg_outlinks + 1))).astype(int),
                )
                n_links[dangle] = 0
                texts = []
                for i, page_id in enumerate(ids):
                    prng = np.random.default_rng(seed * 7_000_003 + int(page_id))
                    k = int(n_links[i])
                    # Zipf-ish preferential target distribution over all pages
                    targets = (prng.zipf(1.6, k) - 1) % n_pages
                    targets = targets[targets != page_id]
                    hrefs = " ".join(
                        f'<a href="http://host{t % n_hosts}.example/page/{t}">t</a>'
                        for t in targets
                    )
                    texts.append(
                        f"Synthetic page {page_id} on host {hosts[i]}. {hrefs} End."
                    )
                ts = pd.to_datetime("2025-01-01") + pd.to_timedelta(ids % 86400, unit="s")
                lang = _LANGS[(ids * 2654435761 % 5)]
                out = pd.DataFrame(
                    {
                        "url": urls,
                        "warc_ts": ts,
                        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
                        "text": texts,
                        "lang": lang,
                    }
                )
                # duplicate captures: a deterministic per-page rule (so the
                # dup set is independent of partitioning) re-emits the page
                # with a later warc_ts and identical text (byte-identical
                # invariant)
                dup_mask = (ids * 2654435761) % 1000 < int(dup_fraction * 1000)
                dups = out.iloc[np.flatnonzero(dup_mask)].copy()
                if len(dups):
                    dups["warc_ts"] = dups["warc_ts"] + pd.Timedelta(days=30)
                part_rows.append(pd.concat([out, dups], ignore_index=True))
            if part_rows:
                yield pd.concat(part_rows, ignore_index=True)

    return (
        spark.range(0, n_parts, numPartitions=n_parts)
        .mapInPandas(gen, PAGE_SCHEMA)
    )


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the page corpus: Iceberg table name or parquet path.

    Iceberg needs its runtime jar on the classpath; fall back to parquet
    in environments without it (this sandbox)."""
    if "/" not in source:
        try:
            return spark.read.table(source)
        except Exception:
            pass
    return spark.read.schema(PAGE_SCHEMA).parquet(source)


def latest_captures(pages: DataFrame) -> DataFrame:
    """One row per url: the latest warc_ts capture (max_by)."""
    return pages.groupBy("url").agg(
        F.max("warc_ts").alias("warc_ts"),
        F.max_by("html", "warc_ts").alias("html"),
        F.max_by("text", "warc_ts").alias("text"),
        F.max_by("lang", "warc_ts").alias("lang"),
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_hrefs(text: pd.Series) -> pd.Series:
    """Vectorized href extraction: absolute http(s) urls in href
    attributes of ``text`` (authoritative bytes per the input_hint
    invariant). Series→Series over Arrow batches — no per-row Python
    UDF. The Python-regex reference that tests hold the JVM
    ``extract_hrefs_expr`` to."""
    return text.fillna("").map(_HREF_RE.findall)


def extract_hrefs_expr(col):
    """JVM-side href extraction: the same HREF_PATTERN via
    regexp_extract_all (group 1) — no Arrow round-trip of the page
    text, stays inside whole-stage codegen. Java and Python regex
    agree on this pattern's constructs (literal prefix, negated
    class); tests pin output equality with the pandas UDF on the
    synthetic corpus. NULL text yields an empty array (coalesce), so
    the expression is element-wise identical to the pandas path, which
    fillna('')s before matching."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.regexp_extract_all(c, F.lit(HREF_PATTERN), 1),
        F.array().cast("array<string>"),
    )


def url_ids(col):
    """Stable 63-bit non-negative vertex id for a url (xxhash64)."""
    return F.abs(F.xxhash64(col))


def extract_edges(pages: DataFrame, dedup_latest: bool = True) -> DataFrame:
    """pages → edges(src, dst, weight).

    One row per distinct (src,dst) link with weight = link multiplicity.
    Self-links dropped. Targets need not exist in the corpus (the web's
    frontier); use ``restrict_to_corpus`` to close the graph. Hrefs are
    extracted by ``extract_hrefs_expr`` inside codegen."""
    p = latest_captures(pages) if dedup_latest else pages
    links = p.select(
        url_ids("url").alias("src"),
        F.explode(extract_hrefs_expr("text")).alias("dst_url"),
    )
    return (
        links.select("src", url_ids("dst_url").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def url_dim(pages: DataFrame) -> DataFrame:
    """(url, id) dictionary for joining results back to urls."""
    return pages.select("url").distinct().select("url", url_ids("url").alias("id"))


def restrict_to_corpus(edges: DataFrame, dim: DataFrame) -> DataFrame:
    """Keep only edges whose dst is a known page (semi-join)."""
    return edges.join(
        dim.select(F.col("id").alias("dst")), "dst", "left_semi"
    )
