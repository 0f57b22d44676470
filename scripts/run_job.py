"""spark-submit entrypoint for the link-graph engine.

On a cluster::

    scripts/make_pyfiles.sh       # builds dist/communitydetection_jl_spark.zip
    spark-submit \
        --py-files dist/communitydetection_jl_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_job.py \
        --algorithm pagerank --edges s3://bucket/edges/ \
        --output s3://bucket/out/ --run-dir s3://bucket/runs/

The session comes from spark-submit (master/executors set there); this
script only declares the job. ``--pages`` accepts an Iceberg table name
or parquet path of (url, warc_ts, html, text, lang) rows and derives
the edge table with the vectorized href-extraction pipeline.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--algorithm", required=True,
                    choices=["pagerank", "lpa", "lpa_async", "components",
                             "louvain", "hlpa", "slpa", "triangles", "extract_edges"])
    ap.add_argument("--edges", help="parquet path of edges(src,dst,weight)")
    ap.add_argument("--pages", help="Iceberg table or parquet path of pages")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-dir", default=None, help="checkpoint ledger root")
    ap.add_argument("--run-id", default=None, help="resume an existing run")
    ap.add_argument("--tol", type=float, default=1e-9)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--objective", default="modularity")
    ap.add_argument("--gamma", type=float, default=1.0)
    args = ap.parse_args()

    spark = SparkSession.builder.appName(f"linkgraph-{args.algorithm}").getOrCreate()

    from communitydetection_jl_spark.plans.runner import RunLedger
    from communitydetection_jl_spark.sources.pages import (
        extract_edges,
        latest_captures,
        read_pages,
        restrict_to_corpus,
        url_dim,
    )

    if args.pages:
        pages = read_pages(spark, args.pages)
        edges = restrict_to_corpus(
            extract_edges(pages), url_dim(latest_captures(pages))
        )
    elif args.edges:
        edges = spark.read.parquet(args.edges)
    else:
        raise SystemExit("one of --edges / --pages is required")

    ledger = (
        RunLedger(args.run_dir, run_id=args.run_id,
                  manifest={"algorithm": args.algorithm, "args": vars(args)})
        if args.run_dir
        else None
    )

    if args.algorithm == "extract_edges":
        out, meta = edges, {}
    elif args.algorithm == "pagerank":
        from communitydetection_jl_spark.operators.pagerank import pagerank

        res = pagerank(edges, damping=args.damping, tol=args.tol,
                       max_iter=args.max_iter, ledger=ledger)
        out, meta = res.ranks, {"iterations": res.iterations, "delta": res.delta}
    elif args.algorithm == "lpa":
        from communitydetection_jl_spark.operators.lpa import lpa

        res = lpa(edges, max_iter=args.max_iter, ledger=ledger)
        out, meta = res.labels, {"iterations": res.iterations}
    elif args.algorithm == "lpa_async":
        from communitydetection_jl_spark.operators.lpa_async import lpa_async

        res = lpa_async(edges, max_rounds=args.max_iter, ledger=ledger)
        out, meta = res.labels, {"rounds": res.rounds}
    elif args.algorithm == "components":
        from communitydetection_jl_spark.operators.components import connected_components

        out, meta = connected_components(edges, ledger=ledger), {}
    elif args.algorithm == "louvain":
        from communitydetection_jl_spark.operators.louvain import louvain

        res = louvain(edges, objective=args.objective, gamma=args.gamma,
                      ledger=ledger)
        out, meta = res.membership, {"quality": res.quality, "levels": res.levels}
    elif args.algorithm == "hlpa":
        from communitydetection_jl_spark.operators.multilevel import hlpa

        res = hlpa(edges, ledger=ledger)
        out, meta = res.membership, {"levels": res.levels}
    elif args.algorithm == "slpa":
        from communitydetection_jl_spark.operators.slpa import slpa

        res = slpa(edges, ledger=ledger)
        out, meta = res.membership, {"iterations": res.iterations}
    else:  # triangles
        from communitydetection_jl_spark.operators.triangles import vertex_triangle_counts

        out, meta = vertex_triangle_counts(edges), {}

    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"algorithm": args.algorithm, "output": args.output, **meta}))


if __name__ == "__main__":
    main()
