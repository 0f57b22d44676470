"""Web-page corpus pipeline (input_hint contract) + checkpoint/resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from communitydetection_jl_spark.operators.pagerank import pagerank
from communitydetection_jl_spark.plans.runner import RunLedger
from communitydetection_jl_spark.sources.pages import (
    extract_edges,
    extract_hrefs,
    latest_captures,
    restrict_to_corpus,
    synth_pages,
    url_dim,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, n_pages=300, n_hosts=30, seed=42).persist()
    df.count()
    return df


def test_pages_schema_and_determinism(spark, pages):
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    n = pages.count()
    assert n > 300  # duplicates included
    # byte-identical text per url across captures (the per-row invariant)
    per_url = pages.groupBy("url").agg(F.count_distinct("text").alias("v"))
    assert per_url.filter(F.col("v") > 1).count() == 0
    # regenerate → identical content hash
    again = synth_pages(spark, n_pages=300, n_hosts=30, seed=42)
    h1 = pages.select(F.sum(F.xxhash64("url", "text").cast("decimal(38,0)"))).collect()[0][0]
    h2 = again.select(F.sum(F.xxhash64("url", "text").cast("decimal(38,0)"))).collect()[0][0]
    assert h1 == h2


def test_latest_capture_dedup(spark, pages):
    latest = latest_captures(pages)
    assert latest.count() == 300
    assert latest.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_href_extraction(spark):
    df = spark.createDataFrame(
        [(
            'intro <a href="http://a.example/x">x</a> mid '
            '<a href="https://b.example/y">y</a> no-href http://c.example/z end',
        )],
        "text string",
    )
    got = df.select(extract_hrefs("text").alias("h")).collect()[0].h
    assert got == ["http://a.example/x", "https://b.example/y"]


def test_extract_edges_graph_shape(spark, pages):
    edges = extract_edges(pages).persist()
    dim = url_dim(latest_captures(pages))
    assert edges.count() > 0
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    closed = restrict_to_corpus(edges, dim)
    assert closed.count() <= edges.count()
    # hub skew exists: max in-degree well above median
    indeg = closed.groupBy("dst").agg(F.count("*").alias("d"))
    stats = indeg.agg(F.max("d").alias("mx"), F.expr("percentile(d, 0.5)").alias("md")).collect()[0]
    assert stats.mx >= 4 * stats.md
    edges.unpersist()


def test_pagerank_resume_from_checkpoint(spark, tmp_path, pages):
    edges = restrict_to_corpus(extract_edges(pages), url_dim(latest_captures(pages)))
    edges = edges.localCheckpoint(eager=True)

    full = pagerank(edges, tol=1e-9, max_iter=60)

    # run A: stop early at 6 iterations
    ledgerA = RunLedger(str(tmp_path / "runs"), run_id="r1")
    partial = pagerank(edges, tol=1e-9, max_iter=6, ledger=ledgerA)
    assert partial.iterations == 6
    mets = ledgerA.metrics()
    assert [m["iter"] for m in mets] == [1, 2, 3, 4, 5, 6]

    # run B: resume from iteration 6's state, converge
    ledgerB = RunLedger(str(tmp_path / "runs"), run_id="r1")
    resumed = pagerank(edges, tol=1e-9, max_iter=60, ledger=ledgerB)
    assert resumed.iterations > 6  # continued, not restarted

    a = {r.id: r.pagerank for r in full.ranks.collect()}
    b = {r.id: r.pagerank for r in resumed.ranks.collect()}
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-6)


def test_resume_over_torn_metrics_line(spark, tmp_path, pages):
    """A run killed mid-write leaves a torn last line in metrics.jsonl.
    Reopening the ledger must not parse it: the resume continues from
    the newest state, every later record is a whole line, and append
    (the multilevel operators' numbering) counts past the last record."""
    edges = restrict_to_corpus(extract_edges(pages), url_dim(latest_captures(pages)))
    edges = edges.localCheckpoint(eager=True)
    ledgerA = RunLedger(str(tmp_path / "runs"), run_id="torn")
    pagerank(edges, tol=1e-9, max_iter=3, ledger=ledgerA)
    with open(os.path.join(ledgerA.dir, "metrics.jsonl"), "a") as f:
        f.write('{"iter": 4, "del')

    ledgerB = RunLedger(str(tmp_path / "runs"), run_id="torn")
    resumed = pagerank(edges, tol=1e-9, max_iter=5, ledger=ledgerB)
    assert resumed.iterations == 5
    ledgerB.append({"level": 0})
    assert [m["iter"] for m in ledgerB.metrics()] == [1, 2, 3, 4, 5, 6]


def test_lpa_resume_from_checkpoint(spark, tmp_path, pages):
    """Mid-algorithm resume for LPA: run A stops early, run B resumes
    from its newest state and must converge to the
    SAME labels as an uninterrupted run (semi-sync LPA is deterministic,
    so resume-equivalence is exact)."""
    from communitydetection_jl_spark.operators.lpa import lpa

    edges = restrict_to_corpus(extract_edges(pages), url_dim(latest_captures(pages)))
    edges = edges.localCheckpoint(eager=True)

    full = lpa(edges, max_iter=40)

    ledgerA = RunLedger(str(tmp_path / "runs"), run_id="lpa1")
    partial = lpa(edges, max_iter=4, ledger=ledgerA)
    assert partial.iterations == 4

    ledgerB = RunLedger(str(tmp_path / "runs"), run_id="lpa1")
    resumed = lpa(edges, max_iter=40, ledger=ledgerB)
    assert resumed.iterations > 4  # continued from iteration 4's state

    a = {r.id: r.comm for r in full.labels.collect()}
    b = {r.id: r.comm for r in resumed.labels.collect()}
    assert a == b


def test_components_resume_from_checkpoint(spark, tmp_path, pages):
    """Mid-algorithm resume for connected components: exact component
    ids after resuming the large-star/small-star loop."""
    from communitydetection_jl_spark.operators.components import (
        connected_components,
    )

    edges = restrict_to_corpus(extract_edges(pages), url_dim(latest_captures(pages)))
    edges = edges.localCheckpoint(eager=True)

    full = {r.id: r.comp for r in connected_components(edges).collect()}

    ledgerA = RunLedger(str(tmp_path / "runs"), run_id="cc1")
    connected_components(edges, max_rounds=2, ledger=ledgerA)

    ledgerB = RunLedger(str(tmp_path / "runs"), run_id="cc1")
    resumed = {
        r.id: r.comp
        for r in connected_components(edges, ledger=ledgerB).collect()
    }
    assert resumed == full


def test_extract_edges_jvm_equals_pandas(spark, pages):
    """extract_edges' codegen regexp_extract_all href extractor and the
    Arrow pandas-UDF reference must agree row by row — the same href
    array, in order — over the latest captures extract_edges reads."""
    from communitydetection_jl_spark.sources.pages import extract_hrefs_expr

    rows = latest_captures(pages).select(
        "url",
        extract_hrefs_expr("text").alias("jvm"),
        extract_hrefs("text").alias("pd"),
    ).collect()
    assert len(rows) == 300
    assert sum(len(r.jvm) for r in rows) > 0
    bad = [r.url for r in rows if list(r.jvm) != list(r.pd)]
    assert not bad, bad[:5]


def test_lpa_async_resume_from_checkpoint(spark, tmp_path, pages):
    """Mid-algorithm resume for shard-local async LPA: run A stops after
    2 rounds, run B resumes from round 2's state. Every round's RNG is
    seeded by its number, so B must end with the SAME labels and the
    rest of the uninterrupted run's mover history."""
    from communitydetection_jl_spark.operators.lpa_async import lpa_async

    edges = restrict_to_corpus(extract_edges(pages), url_dim(latest_captures(pages)))
    edges = edges.localCheckpoint(eager=True)

    full = lpa_async(edges, n_shards=4, seed=7)
    assert full.rounds > 3

    ledgerA = RunLedger(str(tmp_path / "runs"), run_id="alpa1")
    partial = lpa_async(edges, n_shards=4, seed=7, max_rounds=2, ledger=ledgerA)
    assert partial.rounds == 2
    assert [m["iter"] for m in ledgerA.metrics()] == [1, 2]

    ledgerB = RunLedger(str(tmp_path / "runs"), run_id="alpa1")
    resumed = lpa_async(edges, n_shards=4, seed=7, ledger=ledgerB)
    assert resumed.rounds == full.rounds
    assert partial.changed_history + resumed.changed_history == full.changed_history

    a = {r.id: r.comm for r in full.labels.collect()}
    b = {r.id: r.comm for r in resumed.labels.collect()}
    assert a == b


def test_href_unicode_whitespace_parity(spark):
    """re.ASCII pins Python's \\s to Java's: an href containing NBSP
    must extract identically on the JVM and pandas paths."""
    from communitydetection_jl_spark.sources.pages import (
        _HREF_RE,
        extract_hrefs,
        extract_hrefs_expr,
    )

    nbsp = "\u00a0"  # explicit: invisible in source otherwise
    text = f'<a href="http://x.com/a{nbsp}b">x</a> <a href="http://y.com/c d">'
    assert _HREF_RE.findall(text) == [f"http://x.com/a{nbsp}b"]
    df = spark.createDataFrame([(text,)], "text string")
    jvm = df.select(extract_hrefs_expr("text").alias("h")).collect()[0].h
    pnd = df.select(extract_hrefs("text").alias("h")).collect()[0].h
    assert jvm == pnd == [f"http://x.com/a{nbsp}b"]
